package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query sweep over the fixed sf tables, the way `BenchExtra sweep`
  * runs it (alphabetical order, `.count()` as the action,
  * `TempCaches.release` between queries). The cold pass is the first pass in
  * a fresh JVM with empty temp dirs; it is the only pass that reaches
  * one-time costs such as building the memoized graph.
  *
  * It runs every `SparkEntry.queries` entry except the kg_pipeline family
  * (kg_transcripts … kg_edges, kg_components, kg_salted_mentions): those
  * re-run the extract, link, CC and materialize modules that `build_long`
  * measures, and the benchmark's time budget cannot hold a full cold pass
  * next to `build_long`. kg_cypher, the first kg query, still builds the
  * memoized graph through those modules.
  */
object Sweep {

  /** Query family = the module family a query exercises. */
  def family(q: String): String = q match {
    case "kg_transcripts" | "kg_mentions" | "kg_triples" | "kg_linked" |
         "kg_components" | "kg_salted_mentions" | "kg_nodes" | "kg_edges" => "kg_pipeline"
    case _ if q.startsWith("kg_match") => "kg_match"
    case _ if q.startsWith("kg_cypher") => "kg_cypher"
    case _ if q.startsWith("dd_") => "dedup"
    case _ if q.startsWith("sim_") => "similarity"
    case _ if q.startsWith("ta_") => "text"
    case _ if q.startsWith("st_") => "streaming"
    case _ if q.matches("q\\d\\d_.*") || q == "el_bench" || q.startsWith("mm_") => "relational"
    case _ => "other"
  }

  val families: Seq[String] = Seq("kg_match", "kg_cypher", "dedup", "similarity",
    "text", "streaming", "relational")

  /** Families the traced run repeats after the cold pass: the queries served
    * from the memoized graph. A warm pass over every family would push the
    * traced run past its time limit.
    */
  val warmFamilies: Set[String] = Set("kg_match", "kg_cypher")

  final case class QueryRun(seconds: Double, rows: Long)

  def run(spark: SparkSession, sfDir: String, trace: Boolean, out: Result): Unit = {
    out.ready()
    val names = SparkEntry.queries.keys.toSeq.filter(family(_) != "kg_pipeline").sorted
    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext, "sweep")
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    /** One pass over `queries`; a failed query has rows = -1. */
    def pass(label: String, queries: Seq[String]): Seq[(String, QueryRun)] = queries.map { q =>
      val fn = SparkEntry.queries(q)
      val t0 = System.nanoTime()
      val rows = scala.util.Try {
        tracer match {
          case Some(t) => t.span(q, s"$label:$q")(fn(spark, sfDir).count())
          case None => fn(spark, sfDir).count()
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      graft.util.TempCaches.release(spark)
      out.attempted += 1
      rows.failed.foreach { e =>
        out.failed += 1
        out.note(s"$label $q failed: $e")
      }
      q -> QueryRun(secs, rows.getOrElse(-1L))
    }

    val passes = mutable.LinkedHashMap.empty[String, Seq[(String, QueryRun)]]
    val calib0 = Calib.seconds(out.cores)
    val cpu0 = Proc.cpuNs
    val t0 = System.nanoTime()
    passes("cold") = pass("cold", names)
    val coldWall = (System.nanoTime() - t0) / 1e9
    val coldCpu = (Proc.cpuNs - cpu0) / 1e9
    val calib = (calib0 + Calib.seconds(out.cores)) / 2

    if (trace) {
      passes("warm") = pass("warm", names.filter(q => warmFamilies(family(q))))
      val t = tracer.get
      spark.sparkContext.removeSparkListener(t)
      families.foreach { f =>
        def wall(p: String) = passes(p).filter(q => family(q._1) == f).map(_._2.seconds).sum
        val agg = new TaskAgg
        names.filter(family(_) == f).foreach(q => agg += t.metrics(s"cold:$q"))
        out.metric(s"$f.cold_s", wall("cold"))
        if (warmFamilies(f)) out.metric(s"$f.warm_s", wall("warm"))
        out.metric(s"$f.task_cpu_s", agg.cpuNs / 1e9)
        out.metric(s"$f.shuffle_mb", agg.shuffleWriteBytes / 1e6)
        out.metric(s"$f.jobs", agg.jobs.toDouble)
      }
      out.spans = t.spansJson
    } else {
      out.job(coldWall, coldCpu, calib)
    }
    names.filter(family(_) == "other").foreach(q => out.note(s"query $q has no family"))

    out.queryCounts = names.map { q =>
      s"${Json.str(q)}:" + passes.values.flatMap(_.toMap.get(q).map(_.rows))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    out.oracleSql = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
  }
}
