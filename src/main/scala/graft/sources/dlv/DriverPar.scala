package graft.sources.dlv

/** Bounded-pool parallel map for independent metadata I/O (footer
  * reads, commit-file reads, small-object reads) — on the driver, and
  * inside a write task that closed several files. Each call gets a
  * short-lived pool — lifecycle stays local, nested callers can't
  * starve a shared singleton — and `.par.map` preserves input order,
  * so action lists and commit JSONs built from the result stay
  * deterministic.
  *
  * The width is NOT capped by CPU count: the work is latency-bound
  * I/O (an object-store RTT per item), so a 2-core driver still wants
  * all 16 in-flight requests — the threads sleep on sockets, not on
  * cores. */
object DriverPar {
  def map[A, B](items: Seq[A], width: Int = 16)(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    import scala.collection.parallel.CollectionConverters._
    import scala.collection.parallel.ForkJoinTaskSupport
    val pool = new java.util.concurrent.ForkJoinPool(
      math.min(width, items.size))
    val tasks = items.par
    tasks.tasksupport = new ForkJoinTaskSupport(pool)
    try tasks.map(f).seq
    finally pool.shutdown()
  }
}
