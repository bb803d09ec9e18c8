package graftbench

import scala.collection.mutable

import graft.SparkEntry
import graft.core.Tables
import graft.http.{JNum, JObj, JStr, JVal}

/** Query phase of `suite_churn`: a fixed subset of the query
  * library over a seeded corpus (written by `perfbench/corpus.py`). The
  * timed phase calls `count()` on every query in a seeded order, pass after
  * pass; the first pass always completes. No streaming, HTTP or MERGE. */
final class QuerySuite(ctx: Ctx, inputRoot: String) extends Workload {
  import ctx._

  private var input = ""
  private val counts = mutable.LinkedHashMap.empty[String, mutable.Set[Long]]

  def prepare(rep: Int, dir: String): Unit = {
    input = s"$inputRoot/rep$rep"
    Tables.all.foreach(t => Tables.load(spark, input, t))
  }

  /** Two passes: after one, the next pass still ran about 15% faster. */
  def warmUp(): Unit = (1 to 2).foreach(_ =>
    QuerySuite.Names.foreach(n => SparkEntry.queries(n)(spark, input).count()))

  def timed(seconds: Double): Unit = {
    val deadline = Clock.nowS + seconds
    var pass = 0
    var done = false
    while (!done) {
      val order = new scala.util.Random(seed * 1009 + pass).shuffle(QuerySuite.Names)
      val it = order.iterator
      while (it.hasNext && (pass == 0 || Clock.nowS < deadline)) runOne(it.next())
      pass += 1
      done = Clock.nowS >= deadline
    }
    rec.scalar("query_suite.passes", pass)
  }

  private def runOne(name: String): Unit = {
    val fn = SparkEntry.queries(name)
    val t0 = Clock.nowS
    rec.attempt("query") {
      val df = tracer.span("operators.construct", name)(fn(spark, input))
      if (tracer.enabled) tracer.span("operators.plan", name)(df.queryExecution.executedPlan)
      val n = tracer.span("operators.execute", name)(df.count())
      val dt = Clock.nowS - t0
      rec.sample("query_s", dt)
      rec.sample(s"query_s.$name", dt)
      counts.getOrElseUpdate(name, mutable.Set.empty) += n
    }
  }

  override def probe(): Unit =
    Tables.all.foreach(t => tracer.span("core.tables_load", t)(Tables.load(spark, input, t)))

  def verify(): Unit = {
    QuerySuite.Names.foreach { n =>
      val seen = counts.getOrElse(n, mutable.Set.empty)
      rec.check(s"query_returns.$n", seen.nonEmpty, "no successful execution")
      rec.check(s"query_stable.$n", seen.size <= 1, s"row counts differ across passes: $seen")
    }
    // expected counts come from DuckDB over the same files (run.py)
    rec.blob("query_counts", JObj(counts.toVector.collect {
      case (n, s) if s.size == 1 => n -> (JNum(BigDecimal(s.head)): JVal) }))
    rec.blob("oracle_sql", JObj(QuerySuite.Names.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> (JStr(sql): JVal))).toVector))
    rec.blob("corpus_dir", JStr(input))
  }
}

object QuerySuite {
  /** One or two queries per module (relational, SQL, analytics, event,
    * text, dedup, similarity, media), with construction cost measured. On
    * the benchmark corpus a warm pass of all queries launches 443 jobs
    * while constructing them; `sql_recursive_chain`, one of the eager
    * builders, launches 34 of them. Also covered: the interval-join plan
    * rule (`rel_range_join_auto`) and the vector UDFs (`sim_topk_brute`).
    * Left out for run time: the other eager builders (each adds 6-15 s of
    * warm-up and timed work; `dedup_embedding_clusters` takes about 10 s
    * cold) and `pack_occupancy`, whose first call builds a session-lifetime
    * shard (tens of seconds). */
  val Names: Seq[String] = Seq(
    "rel_pricing_summary", "rel_join_fact_fact", "rel_range_join_auto",
    "sql_recursive_chain", "ana_revenue_by_category", "evt_funnel",
    "txt_tfidf", "dedup_exact", "sim_topk_brute", "media_phash_pairs")
}
