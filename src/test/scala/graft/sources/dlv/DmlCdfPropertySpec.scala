package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized model-based property over mixed DML with CDF: a seeded
  * sequence of append / partition-delete / rewrite-delete / update /
  * merge-upsert commits runs against a dlv table AND a driver-side
  * reference model, crossing the `ALTER TABLE SET TBLPROPERTIES`
  * CDF-retrofit boundary mid-history. Asserts, over the whole history:
  *
  *   1. per-version TIME TRAVEL content equals the model's state after
  *      that commit;
  *   2. per-commit `table_changes(v, v)` equals the model's expected
  *      change multiset for that op (inserts / deletes / update pre-
  *      and postimages), including pre-boundary commits resolved by
  *      add/remove replay;
  *   3. replaying the FULL feed from version 0 onto empty state
  *      reconstructs the final table.
  *
  * Pre-boundary ops are restricted to the shapes whose file-level
  * replay is row-accurate (appends and whole-partition deletes — the
  * replayed files hold exactly the changed rows); rewrite DML only
  * runs after CDF is on, where the eager CDC blob carries row-accurate
  * changes by construction. The reference's CDF suite
  * (validation_suite.py:629) checks one hand-built history; this
  * property walks 12 randomized ones' worth of interleavings in one
  * seeded run.
  */
class DmlCdfPropertySpec extends SparkSpec with DlvTestProps {

  private type Row3 = (Long, Int, Double)
  private type Change = (String, Long, Int, Double) // type, id, part, v

  private def df(rows: Seq[Row3]) = {
    import spark.implicits._
    rows.toDF("id", "part", "v")
  }

  // the third case re-runs seed 42 with the distributed-snapshot and
  // parquet-checkpoint thresholds forced to 1: once the history crosses
  // its first checkpoint, every subsequent DELETE/UPDATE/MERGE/
  // OPTIMIZE-shaped op resolves its state through DlvDml.DmlState's
  // DISTRIBUTED route (Dataset-backed discovery, broadcast path-set
  // touched-file lookup, interpreted partition selection) — and must
  // be indistinguishable from the driver route under the same model.
  // The fourth variant creates the table with DELETION VECTORS (and
  // CDF, which vectors require for change reads) on from version 0:
  // every rewrite-shaped DELETE routes through the DV sidecar path
  // instead of the file rewrite, and the SAME model assertions must
  // hold — soft-delete is observationally identical to rewrite.
  for ((seed, label, props, tableProps) <- Seq[
      (Int, String, Seq[(String, String)], Map[String, String])](
      (42, "", Nil, Map.empty),
      (7, "", Nil, Map.empty),
      (42, ", distributed-routed", Seq(DIST -> "1", CKPT -> "1"),
        Map.empty),
      (42, ", deletion-vectors", Nil,
        Map(DlvDv.PROP -> "true", DlvDml.CDF_PROP -> "true"))))
  test(s"seeded mixed DML history (seed=$seed$label" +
    "): time travel, per-commit " +
    "changes, and full-feed replay all match the model across the CDF " +
    "boundary") {
   withProps(props: _*) {
    val dir = java.nio.file.Files.createTempDirectory("dlv-cdfprop-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    DlvTable.create(spark, path, "id BIGINT, part INT, v DOUBLE",
      Seq("part"), tableProps)

    val rng = new scala.util.Random(seed)
    var nextId = 0L
    val model = scala.collection.mutable.LinkedHashMap.empty[Long, (Int, Double)]
    // version -> expected change rows; version -> model state after it
    val expectedChanges =
      scala.collection.mutable.Map.empty[Long, Seq[Change]]
    val stateAt = scala.collection.mutable.Map.empty[Long, Map[Long, (Int, Double)]]

    def record(v: Long, ch: Seq[Change]): Unit = {
      expectedChanges(v) = ch
      stateAt(v) = model.toMap
    }

    def freshRows(k: Int): Seq[Row3] = (1 to k).map { _ =>
      val r = (nextId, rng.nextInt(4), rng.nextInt(50).toDouble)
      nextId += 1
      r
    }

    def opAppend(): Unit = {
      val rows = freshRows(3 + rng.nextInt(4))
      val v = DlvTable.append(spark, path, df(rows))
      rows.foreach(r => model(r._1) = (r._2, r._3))
      record(v, rows.map(r => ("insert", r._1, r._2, r._3)))
    }

    def opPartitionDelete(): Unit = {
      val p = rng.nextInt(4)
      val doomed = model.collect { case (id, (pt, vv)) if pt == p =>
        ("delete", id, pt, vv)
      }.toSeq
      val v = DlvDml.delete(spark, path, col("part") === p)
      doomed.foreach { case (_, id, _, _) => model.remove(id) }
      record(v, doomed)
    }

    // each rewrite op flips a seeded coin between the programmatic API
    // and the SQL front-end over a path identifier — the model can't
    // tell them apart, so the property doubles as an SQL↔API
    // equivalence check across every interleaving
    def opRewriteDelete(): Unit = {
      val cut = rng.nextInt(50).toDouble
      val doomed = model.collect { case (id, (pt, vv)) if vv < cut =>
        ("delete", id, pt, vv)
      }.toSeq
      val v =
        if (rng.nextBoolean())
          DlvDml.delete(spark, path, col("v") < cut)
        else {
          spark.sql(s"DELETE FROM dlv.`$path` WHERE v < $cut")
          DlvTable.log(path).latestVersion
        }
      doomed.foreach { case (_, id, _, _) => model.remove(id) }
      record(v, doomed)
    }

    def opUpdate(): Unit = {
      val m = 2 + rng.nextInt(3)
      val r = rng.nextInt(m)
      val touched = model.collect { case (id, (pt, vv)) if id % m == r =>
        (id, pt, vv)
      }.toSeq
      val v =
        if (rng.nextBoolean())
          DlvDml.update(spark, path, col("id") % m === r,
            Map("v" -> (col("v") + 100.0)))
        else {
          spark.sql(s"UPDATE dlv.`$path` SET v = v + 100.0 " +
            s"WHERE id % $m = $r")
          DlvTable.log(path).latestVersion
        }
      val ch = touched.flatMap { case (id, pt, vv) =>
        Seq(("update_preimage", id, pt, vv),
          ("update_postimage", id, pt, vv + 100.0))
      }
      touched.foreach { case (id, pt, vv) => model(id) = (pt, vv + 100.0) }
      record(v, ch)
    }

    def opOverwrite(): Unit = {
      val rows = freshRows(2 + rng.nextInt(3))
      val doomed = model.map { case (id, (pt, vv)) =>
        ("delete", id, pt, vv)
      }.toSeq
      val v = DlvTable.overwrite(spark, path, df(rows))
      model.clear()
      rows.foreach(r => model(r._1) = (r._2, r._3))
      record(v, doomed ++ rows.map(r => ("insert", r._1, r._2, r._3)))
    }

    def opMergeUpsert(): Unit = {
      import DlvDml._
      val existing = rng.shuffle(model.keys.toSeq).take(2)
      val srcRows = existing.map { id =>
        (id, model(id)._1, rng.nextInt(50) + 200.0) // new v, same part
      } ++ freshRows(2)
      val v =
        if (rng.nextBoolean())
          merge(spark, path, df(srcRows),
            on = col("tgt.id") === col("src.id"),
            clauses = Seq(
              MatchedUpdate(None, Map("v" -> col("src.v"))),
              NotMatchedInsert(None,
                Map("id" -> col("src.id"), "part" -> col("src.part"),
                  "v" -> col("src.v")))))
        else {
          df(srcRows).createOrReplaceTempView("prop_merge_src")
          spark.sql(
            s"""MERGE INTO dlv.`$path`
               |USING prop_merge_src
               |ON prop_merge_src.id = dlv.`$path`.id
               |WHEN MATCHED THEN UPDATE SET v = prop_merge_src.v
               |WHEN NOT MATCHED THEN INSERT (id, part, v)
               |VALUES (prop_merge_src.id, prop_merge_src.part,
               |  prop_merge_src.v)""".stripMargin)
          DlvTable.log(path).latestVersion
        }
      val ch = srcRows.flatMap { case (id, pt, vv) =>
        model.get(id) match {
          case Some((oldPt, oldV)) =>
            Seq(("update_preimage", id, oldPt, oldV),
              ("update_postimage", id, oldPt, vv))
          case None => Seq(("insert", id, pt, vv))
        }
      }
      srcRows.foreach { case (id, pt, vv) =>
        model(id) = (model.get(id).map(_._1).getOrElse(pt), vv)
      }
      record(v, ch)
    }

    def opReplaceWhere(): Unit =
      // delta's replaceWhere: one atomic delete+insert scoped to the
      // predicate — both the metadata-only (partition) and the
      // survivor-rewrite (value-predicate) branches ride the property
      if (rng.nextBoolean()) {
        val p = rng.nextInt(4)
        val rows = freshRows(2 + rng.nextInt(3))
          .map(r => (r._1, p, r._3)) // containment: all in partition p
        val doomed = model.collect { case (id, (pt, vv)) if pt == p =>
          ("delete", id, pt, vv)
        }.toSeq
        val v = DlvDml.overwriteWhere(spark, path, df(rows),
          col("part") === p)
        doomed.foreach { case (_, id, _, _) => model.remove(id) }
        rows.foreach(r => model(r._1) = (r._2, r._3))
        record(v, doomed ++ rows.map(r => ("insert", r._1, r._2, r._3)))
      } else {
        val cut = 1 + rng.nextInt(50)
        val rows = (1 to 2 + rng.nextInt(3)).map { _ =>
          val r = (nextId, rng.nextInt(4), rng.nextInt(cut).toDouble)
          nextId += 1
          r
        }
        val doomed = model.collect { case (id, (pt, vv)) if vv < cut =>
          ("delete", id, pt, vv)
        }.toSeq
        val v = DlvDml.overwriteWhere(spark, path, df(rows),
          col("v") < cut.toDouble)
        doomed.foreach { case (_, id, _, _) => model.remove(id) }
        rows.foreach(r => model(r._1) = (r._2, r._3))
        record(v, doomed ++ rows.map(r => ("insert", r._1, r._2, r._3)))
      }

    def opReorg(): Unit = {
      // maintenance: rewrites only vector-bearing files (a no-op in
      // the variants that never grow one); the committed version must
      // read as NO logical change — time travel state unchanged,
      // change feed empty at it
      val before = DlvTable.log(path).latestVersion
      val v = DlvMaintenance.reorgPurge(spark, path)
      if (v > before) record(v, Nil)
    }

    // phase A — CDF off: only replay-row-accurate shapes (appends,
    // whole-partition deletes, and OVERWRITE — whose removed files
    // hold exactly the replaced rows and added files exactly the new)
    opAppend(); opAppend(); opPartitionDelete(); opOverwrite(); opAppend()
    // the boundary: retrofit CDF onto the existing table
    val boundary = DlvTable.setProperties(spark, path,
      Map(DlvDml.CDF_PROP -> "true"))
    record(boundary, Nil) // metadata-only commit: no changes
    // phase B — CDF on: 8 ops drawn from the full DML mix, the
    // INTERLEAVING itself seeded so distinct seeds exercise distinct
    // op sequences, not just distinct parameters
    val mix: Vector[() => Unit] = Vector(
      () => opAppend(), () => opUpdate(), () => opRewriteDelete(),
      () => opMergeUpsert(), () => opPartitionDelete(),
      () => opOverwrite(), () => opReorg(), () => opReplaceWhere())
    (1 to 9).foreach(_ => mix(rng.nextInt(mix.size))())

    val l = DlvTable.log(path)
    val latest = l.latestVersion

    def contentOf(d: org.apache.spark.sql.DataFrame): Set[Row3] =
      d.select("id", "part", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet

    // 1. time travel at every recorded version matches the model state
    stateAt.foreach { case (v, st) =>
      val got = contentOf(DlvTable.toDF(spark, path, version = Some(v)))
      val want = st.map { case (id, (pt, vv)) => (id, pt, vv) }.toSet
      assert(got == want, s"time travel at v=$v diverged from model")
    }

    // 2. per-commit changes match the expected multiset
    expectedChanges.foreach { case (v, want) =>
      val got = DlvChangeFeed.changes(spark, path, v, Some(v))
        .select(col("_change_type"), col("id"), col("part"), col("v"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
          r.getDouble(3)))
        .toSeq.sorted
      assert(got == want.sorted,
        s"changes at v=$v: got $got, want ${want.sorted}")
    }

    // 3. replaying the whole feed from 0 reconstructs the final table
    val feed = DlvChangeFeed.changes(spark, path, 0, Some(latest))
      .select(col("_commit_version"), col("_change_type"),
        col("id"), col("part"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        (r.getLong(2), r.getInt(3), r.getDouble(4))))
      .sortBy(_._1)
    val replayed = scala.collection.mutable.Map.empty[Long, Row3]
    feed.foreach {
      case (_, "insert", row) => replayed(row._1) = row
      case (_, "delete", row) => replayed.remove(row._1)
      case (_, "update_postimage", row) => replayed(row._1) = row
      case (_, "update_preimage", _) => ()
      case (_, other, _) => fail(s"unexpected change type $other")
    }
    val want = model.map { case (id, (pt, vv)) => (id, pt, vv) }.toSet
    assert(replayed.values.toSet == want,
      "full-feed replay diverged from the final table state")
    assert(contentOf(DlvTable.toDF(spark, path)) == want,
      "final table content diverged from the model")
    if (props.contains(DIST -> "1"))
      // the forced thresholds actually engaged: the history crossed a
      // parquet checkpoint and the latest state routes distributed
      assert(DlvDistributedFileIndex
        .forVersion(spark, l, None, statsSkipping = true).isDefined,
        "distributed-routed variant never left the driver path")
   }
  }
}
