package graftbench

/** `suite_churn`: the storage and query layers, in two phases that never
  * overlap in the timed window — the query suite first, then MERGE churn —
  * so a change to one path leaves the other phase's numbers flat. Set-up
  * warms both paths at once. */
final class SuiteChurn(ctx: Ctx, input: String) extends Workload {
  private val suite = new QuerySuite(ctx, input)
  private val churn = new MergeChurn(ctx)

  def prepare(rep: Int, dir: String): Unit = {
    suite.prepare(rep, dir)
    churn.prepare(rep, dir)
  }

  def warmUp(): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() => try suite.warmUp() catch { case e: Throwable => err.set(e) },
      "bench-suite-warmup")
    t.start()
    churn.warmUp()
    t.join()
    if (err.get != null) throw err.get
  }

  def timed(seconds: Double): Unit = {
    suite.timed(seconds * SuiteChurn.QueryShare)
    churn.timed(seconds * (1 - SuiteChurn.QueryShare))
  }

  override def probe(): Unit = suite.probe()

  def verify(): Unit = { suite.verify(); churn.verify() }
}

object SuiteChurn {
  /** Share of the timed window given to the query phase (its first pass
    * always completes, however long it takes). */
  val QueryShare = 0.6
}
