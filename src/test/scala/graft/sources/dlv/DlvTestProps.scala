package graft.sources.dlv

/** Shared sysprop plumbing for specs that force the dlv scale paths
  * (columnar checkpoints, distributed snapshots, sharded checkpoints).
  * One copy of the save/set/restore dance — the suites share a JVM, so
  * a spec that leaks a threshold override corrupts every suite after
  * it. */
trait DlvTestProps {

  /** Force columnar (parquet) checkpoints regardless of file count. */
  val CKPT = "graft.dlv.parquetCheckpointThreshold"
  /** Force the at-scale paths: reads plan through the Dataset-backed
    * distributed snapshot, and every interval checkpoint after the
    * first parquet one goes to the SHARDED (v2 sidecar) writer. */
  val DIST = "graft.dlv.distributedSnapshotThreshold"
  /** Target AddFiles per sidecar shard. */
  val SHARD_TARGET = "graft.dlv.checkpointShardTarget"

  def withProps[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> sys.props.get(k) }
    kvs.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally old.foreach { case (k, ov) =>
      ov.fold[Unit] { sys.props -= k; () }(v => sys.props(k) = v)
    }
  }
}
