package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{BenchGate, Registry, Verify}
import graft.engine.GraftSession

/** Profiles registry queries, one JSON line per query. Each run is the
  * bench's full evaluation into a noop sink, timed and stamped by
  * [[BenchGate.stampRun]]; `runs` and `stamps` have the layout of the
  * bench artifact's `queries_runs` and `queries_stamps`. `--plan` then
  * prints the formatted plan of the last run. With AQE on (the default)
  * that is the final adaptive plan, and each scan lists its ReadSchema.
  *
  *   runMain graft.tools.Profile <query…> [--sf dir] [--cores n]
  *     [--runs n] [--plan] [--conf k=v]…
  *
  * `--sf` defaults to $SPARK_GRAFT_SF_DIR. An unknown query name exits
  * with status 2. A query that throws ends the profile with its exception;
  * it never prints a timing.
  */
object Profile {
  final case class Opts(queries: Vector[String] = Vector.empty,
      sf: Option[String] = sys.env.get("SPARK_GRAFT_SF_DIR"),
      cores: Int = Runtime.getRuntime.availableProcessors(), runs: Int = 2,
      plan: Boolean = false, conf: Map[String, String] = Map.empty)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--sf" :: d :: t => parse(t, o.copy(sf = Some(d)))
    case "--cores" :: n :: t => parse(t, o.copy(cores = n.toInt))
    case "--runs" :: n :: t if n.toInt > 0 => parse(t, o.copy(runs = n.toInt))
    case "--plan" :: t => parse(t, o.copy(plan = true))
    case "--conf" :: kv :: t if kv.contains('=') =>
      val (k, v) = kv.splitAt(kv.indexOf('='))
      parse(t, o.copy(conf = o.conf + (k -> v.tail)))
    case a :: _ if a.startsWith("--") =>
      throw new IllegalArgumentException(s"bad option $a")
    case q :: t => parse(t, o.copy(queries = o.queries :+ q))
  }

  /** Every noop-sink write's QueryExecution, in run order (registry
    * queries make no V2 writes of their own). The listener bus delivers
    * asynchronously, so a reader waits for the writes it expects. */
  private final class Writes extends QueryExecutionListener {
    private val delivered = new LinkedBlockingQueue[QueryExecution]()
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.logical.isInstanceOf[V2WriteCommand]) delivered.put(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    /** The last of the next `k` writes. */
    def last(k: Int): QueryExecution = Vector.fill(k) {
      val qe = delivered.poll(60, TimeUnit.SECONDS)
      if (qe == null) throw new IllegalStateException("a write went unreported")
      qe
    }.last
  }

  def main(args: Array[String]): Unit = {
    def usage(why: String): Nothing = {
      System.err.println(s"Profile: $why\nusage: Profile <query>... [--sf dir] " +
        "[--cores n] [--runs n] [--plan] [--conf k=v]...")
      sys.exit(2)
    }
    val o = try parse(args.toList)
      catch { case e: IllegalArgumentException => usage(e.getMessage) }
    val unknown = o.queries.filterNot(Registry.byName.contains)
    if (o.queries.isEmpty) usage("no query named")
    if (unknown.nonEmpty) usage(s"unknown queries: ${unknown.mkString(", ")}")
    val sf = o.sf.getOrElse(usage("no --sf and no SPARK_GRAFT_SF_DIR"))
    import Verify.jsonString
    val spark = GraftSession.build("graft-profile", o.cores, o.conf)
    BenchGate.installStageWindow(spark.sparkContext)
    val writes = new Writes
    if (o.plan) spark.listenerManager.register(writes)
    val head = s""""sf":${jsonString(sf)},"cores":${o.cores},"conf":""" +
      o.conf.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }
        .mkString("{", ",", "}")
    try o.queries.foreach { name =>
      val spec = Registry.byName(name)
      val stamps = Vector.fill(o.runs)(BenchGate.stampRun {
        spec.run(spark, sf).write.format("noop").mode("overwrite").save()
      })
      println(s"""{"query":${jsonString(name)},$head,""" +
        s""""min_s":${stamps.map(_.sec).min},"runs":${stamps.map(_.sec)
          .mkString("[", ",", "]")},"stamps":${stamps.map(BenchGate.stampJson)
          .mkString("[", ",", "]")}}""")
      if (o.plan) {
        println(s"== plan: $name ==")
        println(writes.last(o.runs).explainString(FormattedMode))
      }
    } finally spark.stop()
  }
}
