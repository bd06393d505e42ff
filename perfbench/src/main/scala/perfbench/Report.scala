package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes the raw record of one run (op log, set-up times, the probe's
  * listener records and spans) as JSON. Every metric is derived from
  * it by aggregate.py. */
object Report {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(ctx: Ctx, workload: String, liveHeapMb: Double): String = {
    val ops = ctx.ops.toSeq.map(o => Map(
      "id" -> o.id, "kind" -> o.kind, "start" -> o.start, "end" -> o.end, "rows" -> o.rows,
      "cpu_ms" -> o.cpuMs, "gc_ms" -> o.gcMs, "disk_read_bytes" -> o.diskBytes,
      "error" -> Option(o.error), "info" -> o.info))
    mapper.writeValueAsString(Map(
      "workload" -> workload, "seed" -> ctx.seed, "tracing" -> ctx.probe.tracing,
      "setup_s" -> ctx.setupS.toSeq, "space_amp" -> ctx.spaceAmp, "live_heap_mb" -> liveHeapMb,
      "layer" -> ctx.layer, "ops" -> ops) ++ ctx.probe.raw)
  }
}
