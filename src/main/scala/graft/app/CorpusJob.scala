package graft.app

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{ConnectedComponents, Decontam, IncrementalDedup, MinHash, SequencePack}
import graft.parse.QualityScore
import graft.sink.TranscriptCatalog

/** Tunables of the corpus release chain. Defaults are the production
  * shape (wide LSH bands, effectively-unbounded language budgets);
  * CorpusJobSpec pins them to the catalog queries' constants to prove
  * the job IS the oracled `corpus_export`/`corpus_stats` chain.
  *
  * @param budgets     per-language token budgets; languages not listed
  *                    fall back to `budgetDefault`
  * @param blockSize   prefix-sum block size (see
  *                    [[graft.ops.SequencePack.exclusivePrefixSum]]);
  *                    production-sized default, tiny in specs to force
  *                    real recursion
  */
final case class CorpusConfig(
    qualityMin: Double = 0.4,
    minhashBands: Int = 8,
    minhashRows: Int = 4,
    budgets: Map[String, Long] = Map.empty,
    budgetDefault: Long = Long.MaxValue / 2,
    packBudget: Int = 512,
    blockSize: Long = 4096,
    maxTopRows: Long = 65536,
    scrubLines: Boolean = false,
    scrubSpans: Boolean = false,
    // Near-dup cluster representative policy: "minlabel" (the CC label,
    // free) or "quality" (highest-quality member, ties → lowest doc_id —
    // the dd_cluster_rep selection; one extra ids+score groupBy).
    repPolicy: String = "minlabel",
    // Token counter for budgets/packing/funnel: "whitespace" (default) or
    // "bpe" (graft.functions.BpeTokens — tokenizer-true subword counts;
    // on web text the two differ ~1.3-1.5x and non-uniformly by language,
    // which skews per-language budget shares). Counter choice never
    // affects the doc-SURVIVAL stages (quality/dedup/decontam are
    // token-independent), only how much each survivor spends.
    tokenCounter: String = "whitespace")

/** The corpus release pipeline as a runnable batch JOB — the
  * operational twin of the oracle-checked `corpus_export` /
  * `corpus_export_split` / `corpus_stats` catalog queries (same stages,
  * same operators, parameterized instead of pinned to the test split):
  *
  *   quality gate → exact dedup → transitive near-dup resolution →
  *   n-gram eval-set decontamination (optional) → per-language
  *   token-budget mixing → split-aware packing
  *
  * Writes to a [[TranscriptCatalog]] under `--out`:
  *   - `release_docs`    (doc_id, lang, tokens) — the surviving mix
  *   - `release_packs`   (doc_id, pack_id, seg_off, seg_len, pack_pos)
  *                       — exact-`packBudget` training packs
  *   - `release_funnel`  (stage_ord, stage, n_docs, n_tokens) — the
  *                       datacard table every release report leads with
  *
  * All writes are full-table overwrites, so a rerun (same input, same
  * config) converges byte-identically — the job is idempotent by
  * construction, no marker protocol needed (unlike the incremental
  * stores, there is no cross-run state).
  *
  * Scale shape (unchanged from the oracled chain): after the first
  * projection only ids, content hashes and token counts move; the pair
  * set is banded ids-only; both prefix sums are the recursive
  * hierarchical decomposition, so no single-partition window or
  * broadcast ever exceeds `maxTopRows` at any corpus size.
  */
object CorpusJob {

  final case class CorpusResult(metrics: Map[String, Long])

  private def budgetCol(cfg: CorpusConfig): Column =
    cfg.budgets.foldLeft(lit(cfg.budgetDefault): Column) {
      case (acc, (lang, b)) => when(col("lang") === lang, lit(b)).otherwise(acc)
    }

  private def tokenCol(cfg: CorpusConfig): Column = cfg.tokenCounter match {
    case "bpe" => graft.functions.BpeTokens.bpeTokenCount(col("text"))
    case _ => size(split(lower(col("text")), " "))
  }

  def run(
      spark: SparkSession,
      rawTrain: DataFrame, // (doc_id: long, lang: string, text: string)
      evalDocs: Option[DataFrame], // (doc_id, text) held-out eval split
      outRoot: String,
      cfg: CorpusConfig = CorpusConfig()
  ): CorpusResult = {
    val catalog = new TranscriptCatalog(outRoot, spark)

    // Stage 0 (optional): text scrubs — strip corpus-repeated line units
    // (the C4 boilerplate pass) and/or verbatim repeated substring spans
    // (the Lee et al. 2022 pass) BEFORE any gating, so quality scores,
    // content hashes, near-dup signatures and token budgets all see the
    // text a training run would. Each scrub is one corpus-wide hash
    // count plus the single inherent text-bearing join; substring runs
    // second so it also catches spans a line strip exposes.
    val scrubbedOnce =
      if (cfg.scrubLines) graft.ops.LineDedup.scrubText(rawTrain, "text")
      else rawTrain
    val scrubbed =
      if (cfg.scrubSpans) graft.ops.SubstringDedup.scrubText(scrubbedOnce, "text")
      else scrubbedOnce
    // A scrubbed frame feeds five downstream stages — materialize it once.
    val train =
      if (cfg.scrubLines || cfg.scrubSpans) scrubbed.localCheckpoint()
      else rawTrain

    require(cfg.repPolicy == "minlabel" || cfg.repPolicy == "quality",
      s"unknown rep policy '${cfg.repPolicy}' (minlabel | quality)")
    require(cfg.tokenCounter == "whitespace" || cfg.tokenCounter == "bpe",
      s"unknown token counter '${cfg.tokenCounter}' (whitespace | bpe)")
    // Stage 1: quality gate (the hashed-vocab linear classifier) + the
    // content hash the exact dedup keys on. One pass over the text; the
    // score rides along for the optional quality-rep policy in stage 3.
    val meta = train.withColumn("quality", QualityScore.scoreCol("text"))
      .filter(col("quality") >= cfg.qualityMin)
      .select(col("doc_id"), col("quality"), md5(col("text")).as("h"))
      .localCheckpoint()

    // Stage 2: exact dedup — min doc id per content hash.
    val exactKeep = meta.groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

    // Stage 3: transitive near-dup resolution over the MinHash candidate
    // pairs of the exact-dedup survivors (ids-only from here on).
    val shingles = IncrementalDedup.shingles(train, "text")
      .select("doc_id", "toks")
      .join(exactKeep, Seq("doc_id"), "left_semi")
    val pairs = MinHash.candidatePairs(
      shingles, "doc_id", "toks", cfg.minhashBands, cfg.minhashRows)
    val comps = ConnectedComponents.resolve(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    val clustered = exactKeep.join(comps, Seq("doc_id"), "left")
    // Representative per cluster: the free CC min-label, or under
    // --rep-policy quality the highest-quality member (ties → lowest
    // doc_id; one extra ids+score groupBy — the dd_cluster_rep selection).
    val kept = (cfg.repPolicy match {
      case "quality" =>
        clustered.withColumn("cluster", coalesce(col("label"), col("doc_id")))
          .join(meta.select("doc_id", "quality"), Seq("doc_id"))
          .groupBy("cluster")
          .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"),
            col("doc_id").as("rid"))).as("m"))
          .select(col("m.rid").as("doc_id"))
      case _ =>
        clustered.filter(col("label").isNull || col("label") === col("doc_id"))
          .select("doc_id")
    }).localCheckpoint()

    // Stage 4: n-gram containment decontamination against the eval split
    // (skipped when no eval set ships with the run).
    val clean = evalDocs match {
      case Some(ev) =>
        val evalGrams = Decontam.gramHashes(ev, "text").select("gh").distinct()
        // Bloom pre-gate (round-6): the training corpus is the huge side
        // of this semi-join; probing a sketch of the (small) eval grams
        // inside the scan stage keeps definite-miss grams off the
        // exchange, and the exact semi-join removes the sketch's false
        // positives — identical output, ~fpp of the shuffle volume.
        val contaminated = Decontam.contaminatedIdsBloom(
          train.join(kept, Seq("doc_id"), "left_semi"), evalGrams,
          Decontam.gramBloom(evalGrams))
        kept.join(contaminated, Seq("doc_id"), "left_anti")
      case None => kept
    }

    // Stage 5: per-language token budgets on the keyed hierarchical
    // prefix sum (doc-id order, deterministic).
    val toks = train.select(col("doc_id"), col("lang"),
        tokenCol(cfg).as("tokens"))
      .join(clean, Seq("doc_id"), "left_semi")
    val mixed = SequencePack.exclusivePrefixSum(toks,
        "doc_id", "tokens", "lang_cum",
        blockSize = cfg.blockSize, maxTopRows = cfg.maxTopRows,
        keyCols = Seq("lang"))
      .filter(col("lang_cum") < budgetCol(cfg))
      .select("doc_id", "lang", "tokens")
      .localCheckpoint()

    // Stage 6: split-aware packing — every pack holds exactly
    // `packBudget` tokens (except the last), training-ready.
    val packs = SequencePack.packSplit(mixed, "doc_id", "tokens",
      budget = cfg.packBudget, blockSize = cfg.blockSize,
      maxTopRows = cfg.maxTopRows)

    // The datacard funnel, from the SAME frames the export just ran.
    // Materialized (round-8): six stat() rows each join this frame, and a
    // lazy toksAll re-ran the token-counting text pass per stage row; the
    // frame is ids+counts narrow, so pinning it is corpus-size-safe.
    val toksAll = train.select(col("doc_id"), tokenCol(cfg).as("tokens"))
      .localCheckpoint()
    def stat(ord: Int, name: String, ids: DataFrame): DataFrame =
      ids.select("doc_id").join(toksAll, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("n_tokens"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val funnel = stat(0, "train", train.select("doc_id"))
      .unionAll(stat(1, "quality", meta.select("doc_id")))
      .unionAll(stat(2, "exact_dedup", exactKeep))
      .unionAll(stat(3, "neardup", kept))
      .unionAll(stat(4, "decontam", clean))
      .unionAll(stat(5, "mixed", mixed))

    catalog.overwritePartitions(mixed, "release_docs", Nil)
    catalog.overwritePartitions(packs, "release_packs", Nil)
    catalog.overwritePartitions(funnel, "release_funnel", Nil)

    val stages = catalog.read("release_funnel")
      .collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val nPacks = catalog.read("release_packs")
      .select("pack_id").distinct().count()
    CorpusResult(
      stages.flatMap { case (s, (d, t)) =>
        Seq(s"docs_$s" -> d, s"tokens_$s" -> t)
      } + ("packs" -> nPacks))
  }
}

/** spark-submit entry point for [[CorpusJob]].
  *
  * Usage (also runnable via `sbt "runMain graft.app.CorpusMain ..."`):
  *   graft.app.CorpusMain --input <docs parquet> --out <catalog root>
  *     [--eval <eval parquet>] [--quality-min 0.4]
  *     [--budgets en=4000,fr=1500] [--budget-default N]
  *     [--pack-budget 512] [--bands 8] [--rows 4] [--master local[N]]
  *     [--scrub lines,spans]  (pre-gate boilerplate-line strip and/or
  *                             verbatim-span cut, in that order)
  *     [--rep-policy minlabel|quality]  (near-dup cluster representative:
  *                             CC min-label, or highest-quality member)
  *     [--token-counter whitespace|bpe]  (budget/packing/funnel token
  *                             counts: whitespace words, or the fixed
  *                             inlined BPE merge table — tokenizer-true)
  *
  * The input parquet must carry (doc_id: long, lang: string,
  * text: string) — the `documents` table shape.
  */
object CorpusMain {

  private[graft] val KnownFlags = Set(
    "--input", "--out", "--eval", "--quality-min", "--budgets",
    "--budget-default", "--pack-budget", "--bands", "--rows", "--master",
    "--scrub", "--rep-policy", "--token-counter")

  def main(args: Array[String]): Unit = {
    val opts = Flags.parse(args, KnownFlags)
    val input = opts.getOrElse("--input", sys.error("--input <docs parquet> is required"))
    val out = opts.getOrElse("--out", sys.error("--out <catalog root> is required"))
    val budgets = opts.get("--budgets").map(_.split(",").map { kv =>
      kv.split("=") match {
        case Array(l, b) if b.toLongOption.isDefined => l -> b.toLong
        case _ => throw new IllegalArgumentException(
          s"--budgets: expected lang=N[,lang=N...], got '$kv'")
      }
    }.toMap).getOrElse(Map.empty[String, Long])
    val cfg = CorpusConfig(
      qualityMin = opts.double("--quality-min").getOrElse(0.4),
      minhashBands = opts.int("--bands").getOrElse(8),
      minhashRows = opts.int("--rows").getOrElse(4),
      budgets = budgets,
      budgetDefault = opts.long("--budget-default").getOrElse(Long.MaxValue / 2),
      packBudget = opts.int("--pack-budget").getOrElse(512),
      scrubLines = opts.get("--scrub").exists(_.split(",").contains("lines")),
      scrubSpans = opts.get("--scrub").exists(_.split(",").contains("spans")),
      repPolicy = opts.getOrElse("--rep-policy", "minlabel"),
      tokenCounter = opts.getOrElse("--token-counter", "whitespace"))

    val builder = SparkSession.builder()
      .appName("graft-corpus-release")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
    opts.get("--master").foreach { m =>
      builder.master(m)
      val cores = "local\\[(\\d+)\\]".r.findFirstMatchIn(m)
        .map(_.group(1).toInt).getOrElse(32)
      builder.config("spark.sql.shuffle.partitions", cores.toString)
    }
    if (sys.env.get("SPARK_LOCAL_DIRS").isEmpty &&
        new java.io.File("/dev/shm").isDirectory)
      builder.config("spark.local.dir", "/dev/shm/graft-spark-local")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val result = CorpusJob.run(spark,
      spark.read.parquet(input),
      opts.get("--eval").map(spark.read.parquet(_)),
      out, cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    val inDocs = result.metrics.getOrElse("docs_train", 0L)
    println(f"corpus run docs=$inDocs packs=${result.metrics("packs")} " +
      f"sec=$sec%.2f docs_per_sec=${inDocs / math.max(sec, 1e-9)}%.0f")
    result.metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"  metric $k=$v")
    }
    spark.stop()
  }
}
