package graft

import org.apache.spark.sql.SparkSession

/** Real-cluster smoke: runs a slice of the gate surface against a
  * STANDALONE master with multiple executors (launched by
  * `tools/cluster_smoke.sh`), catching local-mode assumptions no
  * local[32] spec can — executor-side classloading of `DlvIo` and the
  * json4s action codecs, codec SPI availability in executor JVMs,
  * closure serializability of the interpreted pruning predicates, and
  * task-side `_metadata` resolution through the DV anti-join.
  *
  * Exercised end-to-end, all on executors of a real cluster:
  *   - dlv write / DV delete / read-through-vector (`dlv_dv_delete`
  *     gate body) — log replay on the driver, scan + anti-join on
  *     executors;
  *   - MinHash-LSH near-dup (`llm_near_dup_lsh` gate body) — the
  *     banded bucket join;
  *   - one distributed-index plan (forced thresholds) so the
  *     checkpoint-parquet Dataset path runs on real executors too.
  *
  * Exit 0 + a final `CLUSTER_SMOKE_OK` line is the contract; any
  * assertion failure or task-side classloading error fails the JVM.
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val minExecutors = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .appName("graft-cluster-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions",
        "graft.sources.dlv.sql.DlvSparkSessionExtension")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val master = spark.sparkContext.master
    require(master.startsWith("spark://"),
      s"cluster smoke must run on a standalone master, got $master " +
        "(use tools/cluster_smoke.sh)")

    // wait for the executor fleet — a smoke that silently ran
    // driver-only would prove nothing
    val deadline = System.currentTimeMillis() + 60000
    def executorCount(): Int =
      // getExecutorInfos includes the driver — subtract it
      spark.sparkContext.statusTracker.getExecutorInfos.length - 1
    while (executorCount() < minExecutors &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    val execs = executorCount()
    require(execs >= minExecutors,
      s"only $execs executors joined within 60s (need $minExecutors)")

    // 1. dlv write / DV soft-delete / read-through-vector
    val dvRows = SparkEntry.queries("dlv_dv_delete")(spark, sfDir)
      .collect()
    require(dvRows.nonEmpty, "dlv_dv_delete returned no rows")

    // 2. LSH near-dup bucket join
    val lshRows = SparkEntry.queries("llm_near_dup_lsh")(spark, sfDir)
      .collect()
    require(lshRows.nonEmpty, "llm_near_dup_lsh returned no rows")

    // 3. the distributed (Dataset-backed) snapshot path on real
    // executors: drive a table across the auto-checkpoint boundary
    // under forced thresholds, assert the routing, read through it
    val distRows = {
      sys.props("graft.dlv.parquetCheckpointThreshold") = "1"
      sys.props("graft.dlv.distributedSnapshotThreshold") = "1"
      try {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        import graft.sources.dlv.{DlvDistributedFileIndex, DlvTable}
        import spark.implicits._
        val dir = java.nio.file.Files.createTempDirectory("dlv-smoke-")
        dir.toFile.deleteOnExit()
        val path = dir.resolve("t").toString
        DlvTable.create(spark, path, "id BIGINT, s STRING", Nil)
        (0 until 10).foreach(i => DlvTable.append(spark, path,
          Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1)))
        val df = DlvTable.toDF(spark, path)
        val usesDist = df.queryExecution.analyzed.collectFirst {
          case l: LogicalRelation =>
            l.relation.asInstanceOf[HadoopFsRelation].location
        }.exists(_.isInstanceOf[DlvDistributedFileIndex])
        require(usesDist,
          "forced thresholds must route the Dataset-backed index")
        df.collect()
      } finally {
        sys.props -= "graft.dlv.parquetCheckpointThreshold"
        sys.props -= "graft.dlv.distributedSnapshotThreshold"
        ()
      }
    }
    require(distRows.length == 10,
      s"distributed-index read returned ${distRows.length} rows, not 10")

    // 4. the round-15 surfaces whose plans ship NEW shapes to
    // executors: a clone's external-file scan (dlv_clone),
    // physical→logical projections over
    // renamed files (dlv_rename_column), the identity allocation
    // expression (dlv_identity), and derived partition bounds inside
    // the scan (dlv_genpart_prune)
    val r15 = Seq("dlv_clone", "dlv_rename_column", "dlv_identity",
      "dlv_genpart_prune").map { g =>
      val rows = SparkEntry.queries(g)(spark, sfDir).collect()
      require(rows.nonEmpty, s"$g returned no rows")
      g -> rows.length
    }

    // 5. the round-16 surfaces shipping NEW executor-side work: the
    // deep clone's distributed byte-copy job (io.copy running IN
    // executor JVMs), the evolved merge's widened staging/CDC plans,
    // and replaceWhere's containment-checked scoped overwrite
    val r16 = Seq("dlv_deep_clone", "dlv_merge_evolve",
      "dlv_replace_where").map { g =>
      val rows = SparkEntry.queries(g)(spark, sfDir).collect()
      require(rows.nonEmpty, s"$g returned no rows")
      g -> rows.length
    }

    // 6. the round-18 surfaces shipping NEW executor-side work: the
    // sharded checkpoint's shard-assignment map + partitioned sidecar
    // write and the sidecar-resolving reads (dlv_sharded_ckpt body,
    // which also covers the chunked-history manifest), and the native
    // NearestCentroidsExpr codegen running in executor JVMs
    // (llm_semdedup's bounded-cluster assignment)
    val r18 = Seq("dlv_sharded_ckpt", "llm_semdedup").map { g =>
      val rows = SparkEntry.queries(g)(spark, sfDir).collect()
      require(rows.nonEmpty, s"$g returned no rows")
      g -> rows.length
    }

    println(s"CLUSTER_SMOKE_OK executors=$execs " +
      s"dv_rows=${dvRows.length} lsh_rows=${lshRows.length} " +
      s"dist_rows=${distRows.length} " +
      (r15 ++ r16 ++ r18).map { case (g, n) => s"$g=$n" }.mkString(" "))
    spark.stop()
  }
}
