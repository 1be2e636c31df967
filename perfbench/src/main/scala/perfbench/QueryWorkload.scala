package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** One pass runs every query of the list through the noop sink, in the
  * order the seed gives, in one closed loop. A query's time covers
  * building its frame (where eager queries do their work), planning and
  * executing it; the clearCache + GC before each query is not timed.
  */
final class QueryWorkload(dir: String, expected: Map[String, Checksum.Digest], seed: Long,
    ctx: Ctx) extends Workload {
  import QueryWorkload.ids

  private val byId: Map[String, String] = {
    val all = SparkEntry.queries.keys.toSeq
    ids.map(id => id -> all.find(_.startsWith(id + "_")).getOrElse(
      sys.error(s"no query with id $id"))).toMap
  }
  private val order = new scala.util.Random(seed).shuffle(ids)

  def stage(spark: SparkSession): Unit = ()

  /** The untimed, cold warm-up pass is also the correctness pass: each
    * result's row count and content digest must equal the recorded one.
    */
  def warmup(spark: SparkSession): Unit = order.foreach { id =>
    hygiene(spark)
    val got = ctx.attempt(s"check $id")(digest(spark, id))
    got.foreach(g => ctx.expect(s"digest of $id", expected.get(id).map(_.toString), g.toString))
  }

  def record(spark: SparkSession): Seq[(String, Checksum.Digest)] =
    ids.map(id => id -> digest(spark, id))

  private def digest(spark: SparkSession, id: String): Checksum.Digest =
    Checksum.result(SparkEntry.queries(byId(id))(spark, dir))

  def iteration(spark: SparkSession, traced: Boolean): Iter = {
    val tr = ctx.tracer
    val counters = ctx.counters(spark, traced)
    val before = counters.map(_.snapshot)
    var total = 0.0
    var rows = 0L
    val layer = Map.newBuilder[String, Double]
    order.foreach { id =>
      hygiene(spark)
      val q0 = counters.map(_.snapshot)
      val t0 = System.nanoTime()
      val ok = ctx.attempt(s"query $id") {
        tr.span("query") {
          val df = tr.span("entry.prepare")(SparkEntry.queries(byId(id))(spark, dir))
          if (traced) tr.span("plans.plan")(df.queryExecution.executedPlan)
          tr.span("exec.run")(df.write.format("noop").mode("overwrite").save())
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      total += dt
      rows += expected.get(id).map(_.rows).getOrElse(0L)
      layer += s"q.${id}_s" -> dt
      for (c <- counters; s0 <- q0; if ok.isDefined) {
        c.drain(spark.sparkContext)
        val d = c.snapshot - s0
        layer += s"q.$id.jobs" -> d.jobs.toDouble
        layer += s"q.$id.shuffle_mb" -> (d.shuffleWrite / 1048576.0)
      }
    }
    if (traced) {
      layer ++= Seq("entry.prepare", "plans.plan", "exec.run").map(n =>
        s"${n}_s" -> tr.seconds(n).getOrElse(tr.iter, 0.0))
    }
    for (c <- counters; b <- before) layer ++= ctx.sparkMetrics(spark, c, b, total)
    Iter(total, rows, layer.result())
  }

  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }
}

object QueryWorkload {
  /** Dedup: the fingerprint-store bootstrap with its three media pair
    * families and connected components (q_mm10), the text banded self-joins
    * (q_l13, q_l06) and the rewrite rule (q_x02). Control: a relational, a
    * temporal and a profiler query and the manifest rules (q_x05), which run
    * none of those.
    */
  val dedup: Seq[String] = Seq("q_mm10", "q_l13", "q_l06", "q_x02")
  val control: Seq[String] = Seq("q_j08", "q_t08", "q_m08", "q_x05")
  val ids: Seq[String] = dedup ++ control
}
