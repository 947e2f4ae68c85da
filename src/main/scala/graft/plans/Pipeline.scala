package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.graph.Materialize
import graft.io.TableIO
import graft.model.{LinkedTriple, RawTriple, Turn}
import graft.operators.canon.Canonicalize
import graft.operators.extract.{Extract, MentionDetector}
import graft.operators.link.EntityLinker
import graft.sources.TranscriptGen
import graft.util.{Checkpoints, TempCaches}

/** The end-to-end KG-construction pipeline (SURVEY.md §7.2):
  *
  * {{{
  * transcripts ─► S1 mentions ─► S2 triples ─► S3 linked ─► S4 canon ─► S5 nodes/edges
  * }}}
  *
  * Every stage boundary is a snapshot write through [[TableIO]]; `run` skips
  * any stage whose table is already complete, so a killed run resumes after
  * the last committed stage with zero recomputation (the resumability gate
  * in BASELINE.md). Stage metrics (rows, wall ms, resumed?) are returned and
  * written alongside the tables.
  */
object Pipeline {

  final case class Config(
      workDir: String,
      gen: TranscriptGen.Config,
      useLsh: Boolean = true,
      transcriptsPath: Option[String] = None,
      /** The external table at [[transcriptsPath]] already holds the
        * ordered-read layout (range-partitioned by conv_id, sorted by
        * (conv_id, turn_idx) within partitions — an Iceberg table written
        * with that sort order): read it IN PLACE, treating the input table
        * itself as the committed `transcripts` snapshot. This is the
        * production shape of the north rule ("reads the transcript Iceberg
        * table ordered by (conv_id, turn_idx)"): a job over an existing
        * 10^12-turn table neither re-sorts it nor copies it into its own
        * storage before starting. Only unordered ingest (`inputOrdered =
        * false`) pays the one-time re-layout + snapshot.
        */
      inputOrdered: Boolean = false,
      /** "all": snapshot every stage (resumable, production default);
        * "final": checkpoint intermediates in memory/disk and snapshot
        * only nodes/edges — the throughput-bench mode (a real cluster
        * checkpoints to scalable storage; a single local disk would
        * otherwise serialize the scaling measurement).
        */
      checkpoint: String = "all")

  final case class StageRun(stage: String, rows: Long, wallMs: Long, resumed: Boolean)

  final case class Result(workDir: String, stages: Seq[StageRun]) {
    def turns: Long = stages.find(_.stage == "transcripts").map(_.rows).getOrElse(0L)
  }

  private def stageDir(cfg: Config, s: String) = s"${cfg.workDir}/$s"

  /** Fail-fast guard: a workDir belongs to exactly one config. Resuming with
    * different generator/linking settings would silently serve the old run's
    * tables as if they were the new config's output.
    */
  private def checkConfigFingerprint(cfg: Config): Unit = {
    val fp = Seq(cfg.gen.nConv, cfg.gen.seed, cfg.gen.hubFrac, cfg.gen.aliasNoise,
      cfg.gen.nEntities, cfg.useLsh, cfg.transcriptsPath.getOrElse(""),
      cfg.inputOrdered).mkString("|")
    val p = new org.apache.hadoop.fs.Path(cfg.workDir, "config.fingerprint")
    TableIO.readString(p) match {
      case Some(prev) =>
        if (prev != fp) throw new IllegalStateException(
          s"workDir ${cfg.workDir} was created by a different pipeline config " +
            s"(existing: $prev, requested: $fp); use a fresh workDir or delete this one")
      case None => TableIO.writeString(p, fp)
    }
  }

  /** Canonical stage order for metrics — concurrent stage pairs complete in
    * nondeterministic order, the report shouldn't.
    */
  private val StageOrder = Seq("transcripts", "mentions", "triples", "linked",
    "canon", "nodes", "edges").zipWithIndex.toMap

  /** Run (or resume) the pipeline. Each stage reads its upstream from the
    * committed snapshot — not from the in-memory plan — which is what makes
    * resume exact and keeps per-stage plans short.
    */
  def run(spark: SparkSession, cfg: Config): Result = {
    import spark.implicits._
    GraftFunctions.register(spark)
    checkConfigFingerprint(cfg)
    // dictionary is generated distributed + deduped once, then reused by the
    // broadcast joins of S3/S4/S5
    val dict = TranscriptGen.aliasDictDs(spark, cfg.gen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stages = Seq.newBuilder[StageRun]

    val snapshotAll = cfg.checkpoint != "final"

    def record(name: String, resumed: Boolean = false)(body: => (DataFrame, Long)): DataFrame = {
      val t0 = System.nanoTime()
      val (df, rows) = body
      val wallMs = if (resumed) 0L else (System.nanoTime() - t0) / 1000000
      stages.synchronized { stages += StageRun(name, rows, wallMs, resumed) }
      df
    }

    def stage(name: String, partitionBy: Seq[String] = Nil, always: Boolean = false)
        (compute: => DataFrame): DataFrame = {
      val dir = stageDir(cfg, name)
      // final mode: checkpoint in memory instead of snapshotting. The lineage
      // cut mirrors what the snapshot path gives for free — without it every
      // downstream action re-canonicalizes and re-renders the whole upstream
      // DAG (with the LSH expression trees that was minutes of driver-side
      // plan-string building per AQE update in the scaling bench). The
      // checkpoint is deserialized: a SER level made every downstream scan
      // re-pay per-row deserialization (canon reads linked 2-3×; bench r5:
      // canon 31.4 s @2 cores SER vs ~12 s deserialized), and the releases
      // below cap residency at ~2 live stages, so SER's heap headroom buys
      // nothing.
      if (!snapshotAll && !always) record(name) {
        val df = Checkpoints.checkpoint(compute)
        (df, df.count())
      }
      // row count comes from the committed manifest — resumed runs keep
      // real counts in metrics instead of clobbering them with -1
      else if (TableIO.isComplete(dir)) record(name, resumed = true) {
        (TableIO.read(spark, dir), TableIO.currentRowCount(dir).getOrElse(-1L))
      }
      else record(name) {
        val snap = TableIO.write(compute, dir, name, partitionBy)
        (TableIO.read(spark, dir), snap.rows)
      }
    }

    // S0 — transcripts, stored range-partitioned by conv_id and sorted by
    // (conv_id, turn_idx) within partitions: the ordered-read invariant.
    // The re-range-partition fires ONLY for externally-ingested tables: the
    // generator's output already HAS the layout (spark.range partitions the
    // ordinal space contiguously, genConv emits turns in turn order, and the
    // zero-padded conv-%08d makes lexicographic order == ordinal order), so
    // repartitionByRange there would cost an extra full generation pass
    // (RangePartitioner sampling) plus a corpus-wide shuffle+sort for a
    // layout we already hold — measured at 21.7M turns it was the single
    // most expensive stage (140 s at local[32]). This mirrors production:
    // an Iceberg table already range-sorted by (conv_id, turn_idx) is read
    // in place; only unpartitioned ingest pays the one-time re-layout.
    val transcripts = cfg.transcriptsPath match {
      // ordered external table: read in place (see Config.inputOrdered). The
      // stage's cost is the row count (parquet metadata scan); the actual
      // column reads happen inside S1/S2, which scan the source table
      // directly — no second copy of the corpus in checkpoint storage.
      case Some(p) if cfg.inputOrdered => record("transcripts") {
        val df = spark.read.parquet(p)
        (df, df.count())
      }
      case _ => stage("transcripts") {
        cfg.transcriptsPath match {
          case Some(p) => spark.read.parquet(p)
            .repartitionByRange(col("conv_id"))
            .sortWithinPartitions(col("conv_id"), col("turn_idx"))
          case None => TranscriptGen.turns(spark, cfg.gen).toDF()
        }
      }
    }
    val turns = transcripts.as[Turn]

    // S1 ∥ S2 — mentions and triples both consume only transcripts: run them
    // concurrently so their task sets interleave (both are map-only).
    // Gazetteer: built DISTRIBUTED and file-backed (normalize→dedup→write,
    // executors load it from storage) — the vocabulary never materializes on
    // the driver, which is what lets the 500k-entity cap (and beyond) ship.
    // Written once per workDir; the config fingerprint above already pins
    // workDir↔generator-config, so a committed gazetteer is always current.
    val gazPath = s"${cfg.workDir}/gazetteer"
    val gazetteer: MentionDetector.Index = {
      val fs = new org.apache.hadoop.fs.Path(gazPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(gazPath, "_SUCCESS")))
        new MentionDetector.FileIndex(gazPath)
      else MentionDetector.writeIndexFile(TranscriptGen.gazetteerDs(spark, cfg.gen), gazPath)
    }
    val (mentionsDf, triplesDf) = Checkpoints.both(
      stage("mentions") { Extract.mentions(turns, gazetteer).toDF() },
      stage("triples") { Extract.triples(turns).toDF() })
    // transcripts fed only S1/S2; mentions is a terminal output table
    Checkpoints.release(transcripts, mentionsDf)

    // S3 — entity linking (broadcast joins only on the big side).
    val linkedDf = stage("linked") {
      EntityLinker.link(triplesDf.as[RawTriple], dict, cfg.useLsh).toDF()
    }
    Checkpoints.release(triplesDf)

    // S4 — connected-components canonicalization.
    val canonDf = stage("canon") {
      Canonicalize(linkedDf.as[LinkedTriple], dict).toDF()
    }
    Checkpoints.release(linkedDf)
    // Canonicalize tracks its vocabulary-sized intermediates (sides, cmap,
    // CC contract map) in TempCaches; the canon checkpoint above is the last
    // consumer, so drop them before S5's corpus-wide jobs need the memory.
    TempCaches.release(spark)

    // S5 — graph materialization; edges partitioned by rel_type (the Spark
    // analog of the reference's typeRelMap scan index).
    val canonTyped = canonDf.as[graft.model.CanonTriple]
    val types = dict.select(col("canonical_name").as("canon_name"), col("entity_type")).distinct()
    lazy val graph = Materialize.graph(canonTyped, Some(types))
    // S5a ∥ S5b — node and edge tables both derive from canon only
    Checkpoints.both(
      stage("nodes", always = true) { graph.nodes },
      stage("edges", partitionBy = Seq("rel_type"), always = true) { graph.edges })
    Checkpoints.release(canonDf)
    dict.unpersist(false)

    val result = Result(cfg.workDir,
      stages.result().sortBy(s => StageOrder.getOrElse(s.stage, 99)))
    writeMetrics(cfg, result)
    result
  }

  private def writeMetrics(cfg: Config, r: Result): Unit = {
    val json = r.stages.map(s =>
      s"""{"stage":"${s.stage}","rows":${s.rows},"wall_ms":${s.wallMs},"resumed":${s.resumed}}""")
      .mkString("[", ",", "]")
    TableIO.writeString(new org.apache.hadoop.fs.Path(cfg.workDir, "metrics.json"), json)
  }
}

/** spark-submit entry point: `PipelineMain <workDir> <nConv> [hubFrac]`. */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val nConv = args(1).toLong
    val hubFrac = if (args.length > 2) args(2).toDouble else 0.2
    // spark-submit injects spark.master; default to local[*] for direct runs
    val spark = SparkSession.builder().appName("graft-pipeline")
      .config("spark.master", sys.props.getOrElse("spark.master",
        sys.env.getOrElse("GRAFT_MASTER", "local[*]")))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "32768")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = Pipeline.run(spark, Pipeline.Config(workDir,
      TranscriptGen.Config(nConv = nConv, hubFrac = hubFrac)))
    r.stages.foreach(s => println(s"[pipeline] ${s.stage}: rows=${s.rows} wallMs=${s.wallMs} resumed=${s.resumed}"))
    spark.stop()
  }
}
