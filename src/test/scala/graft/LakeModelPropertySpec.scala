package graft

import graft.sources.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model-based property test of the table format: a seeded random
  * sequence of commits (append, CoW upsert, MoR upsert, MoR delete,
  * compact, conditional MERGE in both CoW and MoR forms, rollback,
  * REPLACE WHERE, metadata-only add_files imports)
  * runs against BOTH the lake table and a trivial in-memory Map
  * model; after every commit the table read must equal the model,
  * and at the end EVERY version must time-travel back to the model
  * state recorded when it was committed. This covers the interleavings
  * the single-shape specs cannot: CoW and MoR commits stacked in any
  * order, deletes landing on top of unfolded delete files, compaction
  * mid-sequence, clause-conditional merges over MoR delete files,
  * rollbacks re-exposing old states under later MoR commits, and
  * sequence-number precedence across mixed ops. */
class LakeModelPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def frame(m: Map[Long, Double]) = {
    import spark.implicits._
    m.toSeq.toDF("id", "value")
  }

  private def readState(p: String, v: Option[Int] = None): Map[Long, Double] =
    LakeTable.read(spark, p, v).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("value")).toMap

  test("random commit sequences match the in-memory model at every version") {
    // seed 33 runs with the columnar-metadata threshold lowered so
    // batches CROSS the encoding boundary mid-sequence (small commits
    // stay JSON, larger ones go parquet) — every replayed version
    // must read identically through whichever mix it accumulated
    for (seed <- Seq(11, 22, 33)) LakeTable.withColumnarMetaThreshold(
      if (seed == 33) 3 else LakeTable.ColumnarMetaThreshold) {
      val rnd = new scala.util.Random(seed)
      val p = s"/tmp/graft_test/lake_model_$seed"
      SparkSpec.rmdir(p)

      var nextKey = 100L
      var model = (1L to 20L).map(k => k -> (k * 10.0 + seed)).toMap
      LakeTable.overwrite(frame(model), p) // v0
      // the identity-upsert step (case 15) keys on the DECLARED
      // identifier fields; id is never NULL in this walk, so the
      // guard constraint holds by construction. Declared once here —
      // the declaration is standing metadata and must survive every
      // other op in the alphabet (truncate, rollback, compaction).
      LakeTable.addConstraint(spark, p, "id_nn", "id IS NOT NULL")
      LakeTable.setIdentifierFields(p, Seq("id"))
      val perVersion = scala.collection.mutable.Buffer(model, model)
      // raced steps (cases 12/13) inject a concurrent append between a
      // state-dependent commit's snapshot read and its version claim —
      // the round-13 conflict-revalidation rebase under the snapshot
      // default, here exercised across RANDOM interleavings with MoR
      // state, rollbacks and compaction instead of the single-shape specs
      val arb = new graft.sources.RaceInjectionArbiter
      LakeTable.setCommitArbiter(p, arb)
      try {

      // the merge algebra every conditional-merge step applies, mirrored
      // in the model: matched & value<500 → take source value; matched
      // otherwise → delete; unmatched source rows insert when >300
      def mergeModel(model: Map[Long, Double], srcM: Map[Long, Double]): Map[Long, Double] =
        model.flatMap { case (k, v) =>
          srcM.get(k) match {
            case Some(sv) => if (v < 500.0) Some(k -> sv) else None
            case None => Some(k -> v)
          }
        } ++ srcM.filter { case (k, sv) => !model.contains(k) && sv > 300.0 }

      for (step <- 1 to 10) {
        rnd.nextInt(16) match {
          case 0 => // append fresh keys
            val add = (0 until 3).map { i =>
              (nextKey + i) -> (rnd.nextInt(1000).toDouble)
            }.toMap
            nextKey += 3
            LakeTable.append(frame(add), p)
            model = model ++ add
          case 1 => // CoW upsert: patch a random live subset + one new key
            val patch = model.keys.filter(_ => rnd.nextBoolean()).take(5)
              .map(k => k -> rnd.nextInt(1000).toDouble).toMap +
              (nextKey -> rnd.nextInt(1000).toDouble)
            nextKey += 1
            LakeTable.upsert(frame(patch), p, "id")
            model = model ++ patch
          case 2 => // MoR upsert: same semantics, O(batch) commit
            val patch = model.keys.filter(_ => rnd.nextBoolean()).take(5)
              .map(k => k -> rnd.nextInt(1000).toDouble).toMap +
              (nextKey -> rnd.nextInt(1000).toDouble)
            nextKey += 1
            LakeTable.upsertMoR(frame(patch), p, "id")
            model = model ++ patch
          case 3 => // MoR delete by predicate
            val m = 2 + rnd.nextInt(4)
            val r = rnd.nextInt(m)
            LakeTable.deleteMoR(spark, p, "id", pmod(col("id"), lit(m.toLong)) === r)
            model = model.filter { case (k, _) => k % m != r }
          case 4 =>
            LakeTable.compact(spark, p)
          // model unchanged
          case n if n == 5 || n == 6 => // conditional MERGE, CoW and MoR
            val matchedKeys = model.keys.filter(_ => rnd.nextBoolean()).take(4)
            val srcM = (matchedKeys.map(k => k -> rnd.nextInt(1000).toDouble) ++
              (0 until 2).map(i => (nextKey + i) -> rnd.nextInt(1000).toDouble)).toMap
            nextKey += 2
            val clauses = Seq(
              LakeTable.MatchedUpdate(Some(col("t.value") < 500.0),
                Map("value" -> col("s.value"))),
              LakeTable.MatchedDelete(None))
            val ins = Some(col("value") > 300.0)
            if (n == 5) LakeTable.mergeConditional(frame(srcM), p, "id", clauses, ins)
            else LakeTable.mergeConditionalMoR(frame(srcM), p, "id", clauses, ins)
            model = mergeModel(model, srcM)
          case 7 => // rollback to a random earlier version
            val r = rnd.nextInt(perVersion.size)
            LakeTable.rollback(spark, p, r)
            model = perVersion(r)
          case 8 => // POSITION delete by value predicate (row-granular)
            val lo = rnd.nextInt(800).toDouble
            val hi = lo + rnd.nextInt(200)
            LakeTable.deleteMoRPositional(spark, p,
              col("value") >= lo && col("value") <= hi)
            model = model.filter { case (_, v) => v < lo || v > hi }
          case 9 => // DELETION-VECTOR delete (bitmap-compressed posdel)
            val lo = rnd.nextInt(800).toDouble
            val hi = lo + rnd.nextInt(200)
            LakeTable.deleteMoRVector(spark, p,
              col("value") >= lo && col("value") <= hi)
            model = model.filter { case (_, v) => v < lo || v > hi }
          case 10 => // REPLACE WHERE: swap a value slice for fresh rows
            val lo = rnd.nextInt(800).toDouble
            val hi = lo + 100 + rnd.nextInt(100)
            val batch = (0 until 3)
              .map(i => (nextKey + i) -> (lo + rnd.nextInt(100)).toDouble).toMap
            nextKey += 3
            LakeTable.overwriteWhere(frame(batch), p,
              col("value") >= lo && col("value") <= hi)
            model = model.filter { case (_, v) => v < lo || v > hi } ++ batch
          case 11 => // add_files: metadata-only import of external parquet
            val add = (0 until 4)
              .map(i => (nextKey + i) -> rnd.nextInt(1000).toDouble).toMap
            nextKey += 4
            val ext = s"${p}_ext_$step"
            SparkSpec.rmdir(ext)
            frame(add).write.parquet(ext)
            // when the identifier guard CHECK is live, add_files must
            // refuse BY NAME (imported files are unvalidated) and the
            // batch lands through append instead — but a rollback
            // (case 7) to v0 strips the constraint WITH the snapshot,
            // so the refusal arm must branch on the CURRENT state, not
            // assume the declaration-time one
            val live = LakeTable.constraintsOf(p, LakeTable.latestVersion(p).get)
            if (live.nonEmpty) {
              val refusal = intercept[IllegalArgumentException](
                LakeTable.addFiles(spark, p, ext))
              assert(refusal.getMessage.contains("CHECK constraints"))
              LakeTable.append(frame(add), p)
            } else LakeTable.addFiles(spark, p, ext)
            model = model ++ add
          case 12 => // racing append between a CoW DELETE's read and claim:
            // snapshot isolation — the delete applies to the snapshot it
            // read; the racer's rows (even predicate-matching ones) land
            val add = (0 until 2)
              .map(i => (nextKey + i) -> rnd.nextInt(1000).toDouble).toMap
            nextKey += 2
            arb.armRace(() => { LakeTable.append(frame(add), p); () })
            val m = 2 + rnd.nextInt(4)
            val r = rnd.nextInt(m)
            LakeTable.delete(spark, p, pmod(col("id"), lit(m.toLong)) === r)
            perVersion += (model ++ add) // the racer's own version
            model = model.filter { case (k, _) => k % m != r } ++ add
          case 13 => // racing append under compaction: fold + racer both land
            val add = (0 until 2)
              .map(i => (nextKey + i) -> rnd.nextInt(1000).toDouble).toMap
            nextKey += 2
            arb.armRace(() => { LakeTable.append(frame(add), p); () })
            LakeTable.compact(spark, p)
            perVersion += (model ++ add)
            model = model ++ add
          case 14 => // TRUNCATE: metadata-only delete-all (round 14)
            LakeTable.truncate(spark, p)
            model = Map.empty
          case 15 => // identity upsert: the DECLARATION supplies the key
            val patch = model.keys.take(2)
              .map(k => k -> rnd.nextInt(1000).toDouble).toMap
            val ins = Map(nextKey -> rnd.nextInt(1000).toDouble)
            nextKey += 1
            LakeTable.upsertByIdentity(frame(patch ++ ins), p)
            model = model ++ patch ++ ins
        }
        perVersion += model
        assert(readState(p) === model,
          s"seed=$seed step=$step: table diverged from model")
      }

      // every version time-travels to the state recorded at its commit
      perVersion.zipWithIndex.foreach { case (m, v) =>
        assert(readState(p, Some(v)) === m,
          s"seed=$seed: version $v does not replay its model state")
      }
      } finally LakeTable.setCommitArbiter(p, graft.sources.RenameArbiter)
    }
  }

  test("readWhere equals full-scan filter across random feature compositions") {
    // the PRUNING property: whatever mix of hidden partitioning,
    // blooms, binpack, renames, equality/position deletes and
    // clustering a table accumulates, a stats/transform-pruned read
    // must return exactly the rows of an unpruned filter — the skip
    // layers may only decide which files are TOUCHED
    import org.apache.spark.sql.functions.{col, expr, pmod, lit}
    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val p = s"/tmp/graft_test/lake_prune_prop_$seed"
      SparkSpec.rmdir(p)
      import spark.implicits._
      def freshRows(n: Int, from: Long): Seq[(Long, Double)] =
        (0 until n).map(i => (from + i) -> rnd.nextInt(1000).toDouble)
      var nextKey = 200L
      var valCol = "value" // tracks renames
      LakeTable.overwriteHiddenPartitioned(
        freshRows(120, 0).toDF("id", valCol),
        p, Seq(LakeTable.PartitionTransform("id", "bucket", 4))) // v0
      def checkPruned(): Unit = {
        val lo = rnd.nextInt(900).toDouble
        val hi = lo + rnd.nextInt(200)
        val pruned = LakeTable.readWhere(spark, p, Seq((valCol, lo, hi)))
          .collect().map(_.getLong(0)).sorted.toSeq
        val full = LakeTable.read(spark, p)
          .filter(col(valCol) >= lo && col(valCol) <= hi)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(pruned === full, s"seed=$seed: pruned read diverged for [$lo,$hi]")
        // exact-key probe through the bucket transform / stats
        val k = rnd.nextLong(nextKey).max(0L)
        val eqP = LakeTable.readWhere(spark, p, Seq(("id", k.toDouble, k.toDouble)))
          .collect().map(_.getLong(0)).toSeq
        val eqF = LakeTable.read(spark, p).filter(col("id") === k)
          .collect().map(_.getLong(0)).toSeq
        assert(eqP === eqF, s"seed=$seed: id=$k probe diverged")
        // the bloom probe serves the same key
        val eqB = LakeTable.readWhereEquals(spark, p, "id", k.toString)
          .collect().map(_.getLong(0)).toSeq
        assert(eqB === eqF, s"seed=$seed: id=$k bloom probe diverged")
        // the graftlake source — V2-served or lifted onto the library
        // read — filters to the same rows
        val viaSource = spark.read.format("graftlake").load(p)
          .filter(col(valCol) >= lo && col(valCol) <= hi)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(viaSource === full, s"seed=$seed: graftlake read diverged for [$lo,$hi]")
      }
      checkPruned()
      for (step <- 1 to 8) {
        rnd.nextInt(7) match {
          case 0 =>
            LakeTable.append(freshRows(30, nextKey).toDF("id", valCol), p)
            nextKey += 30
          case 1 =>
            LakeTable.appendHiddenPartitioned(
              freshRows(30, nextKey).toDF("id", valCol), p,
              Seq(LakeTable.PartitionTransform("id", "truncate", 50)))
            nextKey += 30
          case 2 => // rename the measure back and forth
            val next = if (valCol == "value") "amount" else "value"
            LakeTable.renameColumn(spark, p, valCol, next)
            valCol = next
          case 3 =>
            LakeTable.withBloom(spark, p, "id", bits = 256, k = 2)
          case 4 =>
            val v = LakeTable.latestVersion(p).get
            val sizes = LakeTable.entriesOf(p, v)
              .filter(_.kind == "data").map(_.bytes).filter(_ > 0)
            LakeTable.compactSmall(spark, p,
              if (sizes.isEmpty) 1024L else (sizes.min + sizes.max) / 2)
          case 5 =>
            LakeTable.deleteMoR(spark, p, "id", pmod(col("id"), lit(7L)) === step)
          case 6 =>
            LakeTable.deleteMoRPositional(spark, p,
              expr(s"pmod(id, 11) = $step"))
        }
        checkPruned()
      }
    }
  }
}
