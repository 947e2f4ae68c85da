package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.Materialize
import graft.io.TableIO
import graft.model.{CanonTriple, LinkedTriple, RawTriple, Turn}
import graft.operators.canon.Canonicalize
import graft.operators.extract.{Extract, MentionDetector}
import graft.operators.link.EntityLinker
import graft.plans.Pipeline
import graft.sources.TranscriptGen

/** The `build_long` workload: `Pipeline.run` with every stage committed
  * through TableIO (the production default), over a corpus the benchmark
  * generates beforehand from the seed with the default vocabulary (nConv/10
  * entities) and hubFrac 0.2. The pipeline reads the corpus in place as an
  * ordered external table, so the program never sees the seed. Every
  * pipeline module is on the path: extraction, linking, CC
  * canonicalization, graph materialization and the snapshot writes.
  */
object Builds {
  /** About 43k turns. The fresh JVM's run takes ~20 s on 4 CPUs, about 40 %
    * of it one-time JIT and codegen and much of the rest per-stage fixed
    * cost; the size is what fits the benchmark's time budget.
    */
  val NConv = 2000L
  val HubFrac = 0.2

  private def config(seed: Long, corpusDir: String, workDir: String) =
    Pipeline.Config(workDir, TranscriptGen.Config(nConv = NConv, seed = seed, hubFrac = HubFrac),
      transcriptsPath = Some(corpusDir), inputOrdered = true)

  private val TripleKey = Seq("conv_id", "turn_idx", "subj", "pred", "obj")

  /** Output checks for one pipeline work dir, run after its clock stops:
    * the committed triples equal the generator's gold labels (precision and
    * recall 1.0 over distinct rows), and every edge endpoint is a node.
    */
  private final class Checks(spark: SparkSession, seed: Long, out: Result) {
    private lazy val gold = TranscriptGen.gold(spark, config(seed, "", "").gen).toDF()
      .select(TripleKey.map(col): _*).distinct().withColumn("w", lit(1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var minPrecision = 1.0
    var minRecall = 1.0
    var dangling = 0L

    def apply(workDir: String): Boolean = {
      val got = TableIO.read(spark, s"$workDir/triples")
        .select(TripleKey.map(col): _*).distinct().withColumn("g", lit(1))
      val r = got.join(gold, TripleKey, "full_outer").agg(
        count(when(col("g").isNotNull && col("w").isNotNull, 1)),
        count(when(col("w").isNull, 1)),
        count(when(col("g").isNull, 1))).head()
      val (tp, fp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val p = tp.toDouble / math.max(tp + fp, 1)
      val rc = tp.toDouble / math.max(tp + fn, 1)
      minPrecision = math.min(minPrecision, p)
      minRecall = math.min(minRecall, rc)

      val nodes = TableIO.read(spark, s"$workDir/nodes").select(col("id"))
      val edges = TableIO.read(spark, s"$workDir/edges")
      val ends = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      val d = ends.join(nodes, Seq("id"), "left_anti").count()
      dangling += d
      p == 1.0 && rc == 1.0 && d == 0 && nodes.limit(1).count() == 1 &&
        edges.limit(1).count() == 1
    }

    def report(): Unit = {
      out.check("gold_precision", minPrecision, minPrecision == 1.0)
      out.check("gold_recall", minRecall, minRecall == 1.0)
      out.check("dangling_edge_endpoints", dangling.toDouble, dangling == 0)
      gold.unpersist(false)
    }
  }

  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Start a pipeline run from a clean state: empty work dir, no cached
    * intermediates of an earlier run, and no garbage left to collect.
    */
  private def reset(spark: SparkSession, workDir: String): Unit = {
    Files.rmrf(workDir)
    graft.util.TempCaches.release(spark)
    System.gc()
  }

  /** Generate the corpus, then measure the JVM's first `Pipeline.run` over
    * it (or, with `trace`, the traced run). Every invocation does the same
    * work in the same order, so each measured run starts equally cold.
    */
  def run(spark: SparkSession, seed: Long, trace: Boolean, runDir: String,
      out: Result): Unit = {
    val corpusDir = s"$runDir/corpus"
    val genStart = System.nanoTime()
    TranscriptGen.turns(spark, config(seed, "", "").gen).write.parquet(corpusDir)
    out.excludedFromSetupS += (System.nanoTime() - genStart) / 1e9
    out.ready()
    val checks = new Checks(spark, seed, out)
    val work = s"$runDir/work"
    if (trace) traced(spark, seed, corpusDir, work, checks, out)
    else timed(spark, seed, corpusDir, work, checks, out)
    checks.report()
  }

  /** The end-to-end run: one `Pipeline.run`, checked after its clock stops. */
  private def timed(spark: SparkSession, seed: Long, corpusDir: String, work: String,
      checks: Checks, out: Result): Unit = {
    val cfg = config(seed, corpusDir, work)
    reset(spark, cfg.workDir)
    val calib0 = Calib.seconds(out.cores)
    val cpu0 = Proc.cpuNs
    val t0 = System.nanoTime()
    val res = scala.util.Try(Pipeline.run(spark, cfg))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Proc.cpuNs - cpu0) / 1e9
    val calib = (calib0 + Calib.seconds(out.cores)) / 2
    out.attempted += 1
    res.failed.foreach(e => out.note(s"pipeline run failed: $e"))
    if (!(res.isSuccess && checks(cfg.workDir))) out.failed += 1
    res.foreach { r =>
      out.job(wall, cpu, calib)
      out.metric("turns_per_s", r.turns / wall)
      out.metric("cpu_s_per_mturn", cpu / r.turns * 1e6)
    }
  }

  /** The traced run: an untraced `Pipeline.run` to warm the JVM, a second
    * one as the reference for row counts, stage overlap and tracing
    * overhead, then the public calls
    * `Pipeline.run` makes, with the same arguments, in pipeline order on one
    * thread, each inside a span. Each stage is checkpointed inside its
    * module's span before it is handed to `TableIO.write`, so the write's
    * cost lands in `io.write` instead of in the module that produced it.
    */
  private def traced(spark: SparkSession, seed: Long, corpusDir: String, work: String,
      checks: Checks, out: Result): Unit = {
    import spark.implicits._
    reset(spark, s"$work/warm")
    Pipeline.run(spark, config(seed, corpusDir, s"$work/warm"))
    Files.rmrf(s"$work/warm")
    val refCfg = config(seed, corpusDir, s"$work/ref")
    reset(spark, refCfg.workDir)
    val t0 = System.nanoTime()
    val ref = Pipeline.run(spark, refCfg)
    val refWall = (System.nanoTime() - t0) / 1e9
    val refRows = ref.stages.map(s => s.stage -> s.rows).toMap
    val stageWallSum = ref.stages.map(_.wallMs).sum / 1e3
    out.attempted += 1
    if (!checks(refCfg.workDir)) out.failed += 1

    val cfg = config(seed, corpusDir, s"$work/traced")
    reset(spark, cfg.workDir)
    val tracer = new Tracer(spark.sparkContext, s"build_long-seed$seed")
    spark.sparkContext.addSparkListener(tracer)
    val rows = mutable.Map.empty[String, Long]
    var bytesWritten = 0L

    def stage(name: String, span: String, partitionBy: Seq[String] = Nil)
        (compute: => DataFrame): DataFrame = {
      val df = tracer.span(span) {
        val d = compute.localCheckpoint(true)
        rows(name) = d.count()
        d
      }
      val snap = tracer.span("io.write") {
        TableIO.write(df, s"${cfg.workDir}/$name", name, partitionBy)
      }
      bytesWritten += snap.files.map(_.bytes).sum
      releaseCheckpoint(df)
      TableIO.read(spark, s"${cfg.workDir}/$name")
    }

    val tStart = System.nanoTime()
    tracer.span("pipeline") {
      val dict = TranscriptGen.aliasDictDs(spark, cfg.gen)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val transcripts = spark.read.parquet(corpusDir)
      rows("transcripts") = transcripts.count()
      val turns = transcripts.as[Turn]
      val gazetteer = MentionDetector.writeIndexFile(
        TranscriptGen.gazetteerDs(spark, cfg.gen), s"${cfg.workDir}/gazetteer")
      stage("mentions", "extract.mentions") { Extract.mentions(turns, gazetteer).toDF() }
      val triples = stage("triples", "extract.triples") { Extract.triples(turns).toDF() }
      val linked = stage("linked", "link") {
        EntityLinker.link(triples.as[RawTriple], dict, cfg.useLsh).toDF()
      }
      val canon = stage("canon", "canon") { Canonicalize(linked.as[LinkedTriple], dict).toDF() }
      graft.util.TempCaches.release(spark)
      val types = dict.select(col("canonical_name").as("canon_name"), col("entity_type"))
        .distinct()
      val graph = Materialize.graph(canon.as[CanonTriple], Some(types))
      stage("nodes", "graph.nodes") { graph.nodes }
      val edges = stage("edges", "graph.edges", partitionBy = Seq("rel_type")) { graph.edges }
      val tracedWall = (System.nanoTime() - tStart) / 1e9
      dict.unpersist(false)

      // semantic counters, outside the module spans
      tracer.span("counters") {
        val turnsN = rows("transcripts").toDouble
        val methods = linked.select(explode(split(col("link_method"), "/")).as("m"))
          .groupBy("m").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val sides = math.max(methods.values.sum, 1L).toDouble
        out.metric("link.dict_share", methods.getOrElse("dict", 0L) / sides)
        out.metric("link.lsh_share", methods.getOrElse("lsh", 0L) / sides)
        out.metric("link.unlinked_share", methods.getOrElse("surface", 0L) / sides)
        val linkedIds = linked.select(col("subj_id").as("id"))
          .union(linked.select(col("obj_id").as("id"))).distinct().count()
        out.metric("canon.merge_ratio", linkedIds.toDouble / math.max(rows("nodes"), 1L))
        val hub = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id")))
          .groupBy("id").count().agg(max("count")).head().getLong(0)
        out.metric("graph.hub_share", hub.toDouble / math.max(rows("edges"), 1L))
        out.metric("extract.mentions_per_turn", rows("mentions") / turnsN)
        out.metric("extract.triples_per_turn", rows("triples") / turnsN)
        out.metric("io.bytes_per_turn", bytesWritten / turnsN)
        out.metric("plans.overlap", stageWallSum / refWall)
        out.metric("trace.overhead_frac", tracedWall / refWall - 1.0)
      }
    }
    spark.sparkContext.removeSparkListener(tracer)
    out.attempted += 1
    if (!checks(cfg.workDir)) out.failed += 1

    val spans = Seq("mentions" -> "extract.mentions", "triples" -> "extract.triples",
      "linked" -> "link", "canon" -> "canon", "nodes" -> "graph.nodes",
      "edges" -> "graph.edges")
    (spans.map(_._2) :+ "io.write").foreach { s =>
      val a = tracer.metrics(s)
      out.metric(s"$s.wall_s", tracer.wall(s))
      out.metric(s"$s.task_cpu_s", a.cpuNs / 1e9)
      out.metric(s"$s.gc_s", a.gcMs / 1e3)
      out.metric(s"$s.shuffle_mb", a.shuffleWriteBytes / 1e6)
      out.metric(s"$s.spill_mb", a.spillBytes / 1e6)
      out.metric(s"$s.tasks", a.tasks.toDouble)
      out.metric(s"$s.task_skew", a.skew)
    }
    spans.foreach { case (stage, s) => out.metric(s"$s.rows", rows(stage).toDouble) }
    out.metric("io.write.rows", spans.map(sp => rows(sp._1)).sum.toDouble)
    val extractCpu = tracer.metrics("extract.mentions").cpuNs +
      tracer.metrics("extract.triples").cpuNs
    out.metric("extract.cpu_us_per_turn", extractCpu / 1e3 / rows("transcripts"))

    // the traced recomposition must produce what Pipeline.run produced
    val same = refRows == rows.toMap
    out.check("traced_rows_match_pipeline", if (same) 1.0 else 0.0, same)
    if (!same) out.note(s"row counts differ: pipeline $refRows, traced ${rows.toMap}")
    out.spans = tracer.spansJson
  }
}
