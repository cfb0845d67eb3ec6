package graft.sources.dlv

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Regression for the lost-commit race: POSIX rename REPLACES an
  * existing destination, so a move-based publish let two writers both
  * "win" the same version (observed as a flaky dlv_concurrent gate:
  * two appends, one commit in the log). The arbiter must award each
  * version to EXACTLY one writer, under a race tighter than any real
  * workload's. Every race goes through the production publish,
  * [[DlvIo.putIfAbsent]]: [[NioIo]] for local paths, [[HadoopIo]]
  * with a registered conditional-put client for object stores. */
class CommitStoreSpec extends AnyFunSuite {

  /** `writers` threads released together, writer w calling
    * `publish(w)`; returns how many won. */
  private def raceOnce(writers: Int)(publish: Int => Boolean): Int = {
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to writers).map { w =>
      new Thread(() => {
        barrier.await()
        if (publish(w)) { wins.incrementAndGet(); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    wins.get()
  }

  private def freshLogDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    dir.toFile.deleteOnExit()
    dir.resolve("_dlv_log").toString
  }

  /** Runs `body` with an in-memory conditional-put store registered
    * for `mem://`, the route a registered bucket SDK wrapper takes. */
  private def withMemStore[A](body: InMemoryObjectStore => A): A = {
    val client = new InMemoryObjectStore
    ConditionalPut.register("mem", client)
    try body(client) finally ConditionalPut.unregister("mem")
  }

  private def freshMemLogDir(): String =
    s"mem://bucket/${java.util.UUID.randomUUID()}/_dlv_log"

  test("rename: exactly one writer wins a version, every race") {
    val io = new NioIo
    (1 to 50).foreach { i =>
      val logDir = freshLogDir("commitstore-race-")
      val winners = raceOnce(writers = 8)(w => io.putIfAbsent(
        logDir, CommitStore.fileName(0L), s"""{"writer":$w}"""))
      assert(winners == 1, s"race $i: $winners writers won version 0")
    }
  }

  test("conditional-put: exactly one writer wins a version, every race") {
    withMemStore { _ =>
      val io = new HadoopIo()
      (1 to 50).foreach { i =>
        val logDir = freshMemLogDir()
        val winners = raceOnce(writers = 8)(w => io.putIfAbsent(
          logDir, CommitStore.fileName(0L), s"""{"writer":$w}"""))
        assert(winners == 1, s"race $i: $winners writers won version 0")
      }
    }
  }

  test("conditional-put arbiter: exactly one of 32 racing writers " +
    "wins, and the winner's content is what landed") {
    withMemStore { client =>
      val io = new HadoopIo()
      (1 to 20).foreach { i =>
        val logDir = freshMemLogDir()
        val winners = raceOnce(writers = 32)(w => io.putIfAbsent(
          logDir, CommitStore.fileName(0L), s"""{"writer":$w}"""))
        assert(winners == 1, s"race $i: $winners of 32 writers won")
      }
      // the arbitration is content-faithful: whoever won, their bytes
      // are the object (no torn/merged state is even expressible —
      // the precondition PUT is one atomic call)
      val logDir = freshMemLogDir()
      val name = CommitStore.fileName(7L)
      assert(io.putIfAbsent(logDir, name, """{"writer":"me"}"""))
      assert(!io.putIfAbsent(logDir, name, """{"writer":"late"}"""))
      assert(client.get(s"$logDir/$name").map(new String(_))
        .contains("""{"writer":"me"}"""))
    }
  }

  test("HadoopIo routes put-if-absent through a registered " +
    "conditional-put client; unregistered schemes keep the fallback") {
    withMemStore { client =>
      val io = new HadoopIo()
      // no Hadoop FileSystem exists for scheme mem:// — reaching the
      // store proves the client owns the publish before FS resolution
      val dir = "mem://bucket/t/_dlv_log"
      assert(io.putIfAbsent(dir, CommitStore.fileName(0L), "{\"a\":1}"))
      assert(!io.putIfAbsent(dir, CommitStore.fileName(0L), "{\"b\":2}"))
      assert(client.get(s"$dir/${CommitStore.fileName(0L)}")
        .map(new String(_)).contains("{\"a\":1}"))
    }
    // after unregistration the same scheme falls back to FileSystem
    // resolution, which (correctly) has no impl for mem://
    intercept[Exception] {
      new HadoopIo().putIfAbsent(
        "mem://bucket/t/_dlv_log", CommitStore.fileName(1L), "{}")
    }
  }

  // ── ambiguous-failure conformance ──────────────────────────────────
  // A real store's failure modes beyond true/412: the PUT can time out
  // AFTER the object landed (ack lost), fail before anything landed,
  // or stay in flight past a GET probe and land late (zombie PUT). The
  // arbiter (ConditionalPut.resolvedPut) must resolve every one of
  // these by reading the key back — never by guessing.

  /** One injected behavior per putIfNoneMatch call, drained in order;
    * when the queue is empty the call is passed through untouched. */
  private final class FaultyStore(delegate: InMemoryObjectStore)
      extends ConditionalPutClient {
    import scala.collection.mutable
    sealed trait Fault
    case object AckLost extends Fault // apply, then report unknown
    case object FailBefore extends Fault // report unknown, nothing landed
    /** Report unknown with the PUT still in flight; it lands right
      * after the NEXT GET of the key observes absence. */
    case object ZombieInFlight extends Fault
    val plan = mutable.Queue.empty[Fault]
    private var inFlight: Option[(String, Array[Byte])] = None
    var puts, gets = 0

    override def putIfNoneMatch(key: String, content: Array[Byte]): Boolean =
      synchronized {
        puts += 1
        if (plan.isEmpty) delegate.putIfNoneMatch(key, content)
        else plan.dequeue() match {
          case AckLost =>
            delegate.putIfNoneMatch(key, content)
            throw new AmbiguousPutException("ack lost after landing")
          case FailBefore =>
            throw new AmbiguousPutException("failed before send")
          case ZombieInFlight =>
            inFlight = Some((key, content))
            throw new AmbiguousPutException("still in flight")
        }
      }
    override def get(key: String): Option[Array[Byte]] = synchronized {
      gets += 1
      val seen = delegate.get(key)
      // the zombie lands immediately AFTER this probe reported absence
      inFlight match {
        case Some((k, c)) if k == key && seen.isEmpty =>
          delegate.putIfNoneMatch(k, c)
          inFlight = None
        case _ => ()
      }
      seen
    }
  }

  test("ambiguity: ack lost after the PUT landed — writer learns it WON") {
    val mem = new InMemoryObjectStore
    val faulty = new FaultyStore(mem)
    faulty.plan += faulty.AckLost
    assert(ConditionalPut.resolvedPut(faulty, "k", "mine".getBytes))
    assert(mem.get("k").map(new String(_)).contains("mine"))
    // and a competitor now definitively loses
    assert(!ConditionalPut.resolvedPut(faulty, "k", "late".getBytes))
    assert(mem.get("k").map(new String(_)).contains("mine"))
  }

  test("ambiguity: failure before anything landed — retry wins cleanly") {
    val mem = new InMemoryObjectStore
    val faulty = new FaultyStore(mem)
    faulty.plan += faulty.FailBefore
    assert(ConditionalPut.resolvedPut(faulty, "k", "mine".getBytes))
    assert(faulty.puts == 2, s"expected 1 failed + 1 retried PUT, saw ${faulty.puts}")
    assert(mem.get("k").map(new String(_)).contains("mine"))
  }

  test("ambiguity: zombie in-flight PUT lands after the probe — the " +
    "retry's 412 is recognized as our own commit, not a loss") {
    val mem = new InMemoryObjectStore
    val faulty = new FaultyStore(mem)
    faulty.plan += faulty.ZombieInFlight
    // call 1 throws ambiguous; GET sees absence; zombie lands; retry
    // PUT gets 412 from OUR OWN object — resolvedPut must answer true
    assert(ConditionalPut.resolvedPut(faulty, "k", "mine".getBytes))
    assert(mem.get("k").map(new String(_)).contains("mine"))
  }

  test("ambiguity: failure while a competitor landed first — loss, " +
    "resolved from the competitor's bytes") {
    val mem = new InMemoryObjectStore
    assert(mem.putIfNoneMatch("k", "theirs".getBytes))
    val faulty = new FaultyStore(mem)
    faulty.plan += faulty.FailBefore
    assert(!ConditionalPut.resolvedPut(faulty, "k", "mine".getBytes))
    assert(mem.get("k").map(new String(_)).contains("theirs"))
  }

  test("ambiguity: exhausted attempts with the key still absent — " +
    "the ambiguity is SURFACED, never guessed") {
    val neverLands = new ConditionalPutClient {
      override def putIfNoneMatch(key: String, content: Array[Byte]) =
        throw new AmbiguousPutException("store brown-out")
      override def get(key: String): Option[Array[Byte]] = None
    }
    intercept[AmbiguousPutException] {
      ConditionalPut.resolvedPut(neverLands, "k", "mine".getBytes)
    }
  }

  test("exactly-one-winner holds under randomized fault injection") {
    // every writer's every PUT may ack-lose, fail-before, or pass
    // through (seeded — deterministic); across all of it exactly one
    // resolvedPut may return true and its bytes must be the object
    val rnd = new scala.util.Random(14)
    (1 to 20).foreach { round =>
      val mem = new InMemoryObjectStore
      val writers = 8
      val barrier = new java.util.concurrent.CyclicBarrier(writers)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val winner = new java.util.concurrent.atomic.AtomicReference[String]()
      val faults: Seq[Option[Int]] =
        (1 to writers).map(_ => rnd.nextInt(3) match {
          case 0 => None
          case n => Some(n)
        })
      val threads = (1 to writers).map { w =>
        new Thread(() => {
          val faulty = new FaultyStore(mem) // per-writer fault seam
          faults(w - 1).foreach {
            case 1 => faulty.plan += faulty.AckLost
            case _ => faulty.plan += faulty.FailBefore
          }
          barrier.await()
          val content = s"""{"writer":$w,"round":$round}"""
          if (ConditionalPut.resolvedPut(faulty, "k", content.getBytes)) {
            wins.incrementAndGet()
            winner.set(content)
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(wins.get() == 1, s"round $round: ${wins.get()} writers won")
      assert(mem.get("k").map(new String(_)).contains(winner.get()),
        s"round $round: landed object is not the winner's bytes")
    }
  }

  test("conformance kit passes against the in-memory reference store") {
    ConditionalPutConformance.verify(
      new InMemoryObjectStore, "mem://bucket/scratch", writers = 8, rounds = 10)
  }

  test("conformance kit REJECTS a wrapper that overwrites on conflict") {
    // the classic broken wrapper: plain PUT (no precondition) — last
    // writer silently wins; the kit must name the violated check
    val broken = new ConditionalPutClient {
      private val m =
        new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
      override def putIfNoneMatch(key: String, content: Array[Byte]) = {
        m.put(key, content); true
      }
      override def get(key: String) = Option(m.get(key))
    }
    val v = intercept[ConditionalPutConformance.Violation] {
      ConditionalPutConformance.verify(broken, "mem://bucket/scratch")
    }
    assert(v.getMessage.contains("create-if-absent"))
  }

  test("a loser's staged temp never remains visible in the log dir") {
    val logDir = freshLogDir("commitstore-clean-")
    val io = new NioIo
    assert(io.putIfAbsent(logDir, CommitStore.fileName(0L), "{}"))
    assert(!io.putIfAbsent(logDir, CommitStore.fileName(0L), "{}"))
    val leftovers =
      io.listNames(logDir).filterNot(_.endsWith(".json"))
    assert(leftovers.isEmpty, s"staging leftovers: $leftovers")
  }
}
