package graft.sources.dlv.sql

import graft.SparkSpec

/** Cross-process safety of the name registry: per-name registration
  * objects mean (a) writers of DIFFERENT names can never lose each
  * other's update (the old whole-map JSON was last-writer-wins across
  * every name), (b) a brand-new name arbitrates through the
  * filesystem's create-if-absent — exactly one winner, losers fail
  * loudly, and (c) a legacy whole-map metastore file migrates on
  * first write without losing entries. */
class RegistryRaceSpec extends SparkSpec {

  private def withTempStore[T](body: => T): T = {
    val f = java.nio.file.Files.createTempDirectory("reg-race-")
      .resolve("metastore.json")
    val prev = spark.conf.getOption(DlvRegistry.METASTORE_CONF)
    spark.conf.set(DlvRegistry.METASTORE_CONF, f.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(DlvRegistry.METASTORE_CONF, v)
      case None => spark.conf.unset(DlvRegistry.METASTORE_CONF)
    }
  }

  test("registerNew: N concurrent racers for ONE name — exactly one " +
    "winner, every loser observes the winner's path") {
    withTempStore {
      val n = 16
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val start = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      try {
        val futures = (0 until n).map { i =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              start.await()
              if (DlvRegistry.registerNew(spark, "raced", s"/path/$i"))
                wins.incrementAndGet()
              ()
            }
          })
        }
        start.countDown()
        futures.foreach(_.get())
      } finally pool.shutdown()
      assert(wins.get() == 1, s"exactly one racer must win: ${wins.get()}")
      val winner = DlvRegistry.lookup(spark, "raced")
      assert(winner.isDefined && winner.get.startsWith("/path/"))
      // and it never changes under repeat attempts
      assert(!DlvRegistry.registerNew(spark, "raced", "/path/late"))
      assert(DlvRegistry.lookup(spark, "raced") == winner)
    }
  }

  test("a FOREIGN process's registration (raw per-name object, no " +
    "JVM lock) is honored: registerNew loses, lookup sees it") {
    withTempStore {
      // what another process's DlvRegistry would write, created
      // behind this JVM's back
      val store = java.nio.file.Paths.get(
        spark.conf.get(DlvRegistry.METASTORE_CONF))
      val dir = store.resolveSibling(
        store.getFileName.toString + ".d")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("foreign.json"),
        """{ "path": "/owned/elsewhere" }""")
      assert(DlvRegistry.lookup(spark, "foreign")
        .contains("/owned/elsewhere"))
      assert(!DlvRegistry.registerNew(spark, "foreign", "/mine"),
        "create-if-absent must respect the foreign registration")
      assert(DlvRegistry.lookup(spark, "foreign")
        .contains("/owned/elsewhere"))
    }
  }

  test("writers of DIFFERENT names never lose each other's update " +
    "(the whole-map lost-update bug)") {
    withTempStore {
      DlvRegistry.register(spark, "a", "/pa")
      // a foreign process registers "b" from its own (stale) view —
      // with a whole-map file this would erase "a"
      val store = java.nio.file.Paths.get(
        spark.conf.get(DlvRegistry.METASTORE_CONF))
      val dir = store.resolveSibling(store.getFileName.toString + ".d")
      java.nio.file.Files.writeString(dir.resolve("b.json"),
        """{ "path": "/pb" }""")
      assert(DlvRegistry.lookup(spark, "a").contains("/pa"))
      assert(DlvRegistry.lookup(spark, "b").contains("/pb"))
      assert(DlvRegistry.list(spark).map(_._1).toSet == Set("a", "b"))
    }
  }

  test("legacy whole-map metastore reads as-is and migrates to " +
    "per-name objects on first write; a newer per-name entry wins") {
    withTempStore {
      val store = java.nio.file.Paths.get(
        spark.conf.get(DlvRegistry.METASTORE_CONF))
      java.nio.file.Files.createDirectories(store.getParent)
      java.nio.file.Files.writeString(store,
        """{ "old1": "/legacy/1", "old2": "/legacy/2" }""")
      // read-only access sees legacy entries without migrating
      assert(DlvRegistry.lookup(spark, "old1").contains("/legacy/1"))
      assert(DlvRegistry.list(spark).size == 2)
      // first write migrates everything and drops the legacy file
      DlvRegistry.register(spark, "new1", "/n1")
      assert(!java.nio.file.Files.exists(store),
        "legacy file must be gone after migration")
      assert(DlvRegistry.lookup(spark, "old1").contains("/legacy/1"))
      assert(DlvRegistry.lookup(spark, "old2").contains("/legacy/2"))
      assert(DlvRegistry.list(spark).map(_._1).toSet ==
        Set("old1", "old2", "new1"))
      // drop works on a migrated entry
      assert(DlvRegistry.drop(spark, "old2"))
      assert(DlvRegistry.lookup(spark, "old2").isEmpty)
    }
  }

  test("registry: scheme-qualified locations register verbatim, " +
    "local paths still normalize") {
    withTempStore {
      DlvRegistry.register(spark, "r18_remote", "s3://bucket/wh/orders")
      assert(DlvRegistry.lookup(spark, "r18_remote")
        .contains("s3://bucket/wh/orders"),
        "a URI location must not be mangled through java.nio")
      assert(DlvRegistry.registerNew(
        spark, "r18_remote2", "hdfs://nn:8020/wh/t"))
      assert(DlvRegistry.lookup(spark, "r18_remote2")
        .contains("hdfs://nn:8020/wh/t"))
      // scheme-less paths keep absolute-normalizing (relative refs
      // must not depend on the process working dir)
      DlvRegistry.register(spark, "r18_local", "rel/dir/../t")
      val got = DlvRegistry.lookup(spark, "r18_local").get
      assert(got.startsWith("/") && got.endsWith("/rel/t"), got)
    }
  }

  test("registry: a name dropped while a legacy whole-map file is " +
    "present does not resurrect from it") {
    withTempStore {
      // seed per-name entries (migration already happened)…
      DlvRegistry.register(spark, "r18_keep", "/data/keep")
      DlvRegistry.register(spark, "r18_gone", "/data/gone")
      // …then simulate a FAILED legacy delete: the whole-map file
      // reappears holding both names
      val store = java.nio.file.Paths.get(
        spark.conf.get(DlvRegistry.METASTORE_CONF))
      java.nio.file.Files.writeString(store,
        """{"r18_keep":"/data/keep","r18_gone":"/data/stale"}""")
      assert(DlvRegistry.drop(spark, "r18_gone"))
      assert(DlvRegistry.lookup(spark, "r18_gone").isEmpty,
        "dropped name resurrected from the stale legacy file")
      assert(DlvRegistry.lookup(spark, "r18_keep")
        .contains("/data/keep"))
      assert(!DlvRegistry.list(spark).exists(_._1 == "r18_gone"))
    }
  }
}
