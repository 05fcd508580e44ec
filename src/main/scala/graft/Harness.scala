package graft

import org.apache.spark.sql.SparkSession

/** The bootstrap the run mains ([[Bench]], [[Verify]], [[Plans]])
  * share: one session configuration, one set of env knobs, one
  * watchdog drive.
  *
  * Env knobs: `SPARK_GRAFT_CPUS` (local cores; default: this machine's
  * processors) and `SPARK_GRAFT_SHUFFLE` (shuffle partitions; default:
  * the core count).
  */
private[graft] object Harness {

  /** Pid-private learned-cell and scratch dirs, for runs whose cell
    * snapshot no oracle check reads: such a run must never clobber the
    * snapshot a pending Verify/oracle check reads. */
  def pidDirs(tag: String): (String, String) = {
    val pid = ProcessHandle.current().pid()
    (s"/tmp/graft_${tag}_cells_$pid", s"/tmp/graft_${tag}_scratch_$pid")
  }

  /** The production session ([[GraftSession]]) at the configured core
    * and partition counts, UI off, WARN logging. `cellsDir`/`scratchDir`
    * become `graft.cells.dir`/`graft.scratch.dir` unless those
    * properties are already set. */
  def session(cellsDir: String, scratchDir: String): SparkSession = {
    def default(key: String, value: String): Unit =
      if (sys.props.get(key).isEmpty) System.setProperty(key, value)
    default("graft.cells.dir", cellsDir)
    default("graft.scratch.dir", scratchDir)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    // Decoupled shuffle-partition override for the layout-determinism
    // sweep: results must not depend on the physical partitioning, and
    // the only way to PROVE that is to run the same dump under a
    // different (prime, ≠ core-count) partition count and diff hashes.
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt)
    val spark = GraftSession.builder(s"local[$cpus]", shuffle)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Watchdog drive: a single wedged query (e.g. an AQE hang under
    * co-tenant noise) must not hang a whole run. `body` runs on a worker
    * thread inside the cancellable job group `group`; on timeout the
    * group is cancelled, the worker interrupted, and a
    * `RuntimeException` thrown. A failure of `body` is rethrown. */
  def drive[T](spark: SparkSession, group: String, timeoutSec: Long)(body: => T): T = {
    @volatile var result: Either[Throwable, T] = null
    val worker = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
        result = Right(body)
      } catch { case t: Throwable => result = Left(t) }
      finally spark.sparkContext.clearJobGroup()
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutSec * 1000L)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
      worker.join(10000L)
      throw new RuntimeException(s"timed out after ${timeoutSec}s")
    }
    result.fold(t => throw t, identity)
  }
}
