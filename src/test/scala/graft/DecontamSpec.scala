package graft

import org.apache.spark.sql.functions._
import graft.ops.Decontam
import graft.sink.TranscriptCatalog

/** The persisted decontamination gate (graft.ops.Decontam): containment
  * semantics, cross-session store re-registration, the exchange-free
  * store-side plan, and exact equivalence with the oracled
  * dd_decontam_ngram catalog query.
  */
class DecontamSpec extends SparkSpecBase {
  import spark.implicits._

  private val evalSentence =
    "the secret eval answer is exactly forty two point five units"

  test("containment: a training page EMBEDDING an eval sentence is flagged") {
    val out = tmpDir("decontam-store")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4)
    val train = Seq(
      1L -> s"a big page of many words $evalSentence and much more text after",
      2L -> "an unrelated page with entirely different words in it today",
      3L -> "short page").toDF("doc_id", "text")
    val store = Decontam.evalGramStore(catalog, nBuckets = 4)
    ParityOracles.contaminatedIds(train, store)
      .collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("the store survives a new session: re-registered, still bucketed, still exchange-free") {
    val out = tmpDir("decontam-bucketed")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4)
    // Simulate a new session: drop the registration, re-register over files.
    spark.sql(s"DROP TABLE ${catalog.bucketedName(Decontam.GramTable)}")
    val store = Decontam.evalGramStore(catalog, nBuckets = 4)
    val train = Seq(
      1L -> s"padding words before $evalSentence padding words after here",
      2L -> "nothing shared with the eval set in this document at all")
      .toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hits = Decontam.contaminatedIdsBloom(train, store, Decontam.gramBloom(store))
      hits.collect().map(_.getLong(0)) shouldBe Array(1L)
      val plan = hits.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // one gh exchange (the batch side) — the bucketed store provides its
      // own hash partitioning; the id-distinct exchange is the other one.
      "Exchange hashpartitioning\\(gh".r.findAllIn(plan).size shouldBe 1
      plan should include("Bucketed: true")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private val evalSentence2 =
    "a corrected benchmark answer reads thirty seven degrees under pressure today"

  test("republish replaces a set's grams: removed eval docs stop gating, new ones gate") {
    val out = tmpDir("decontam-republish")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4, setId = "bench")
    val train = Seq(
      1L -> s"padding before $evalSentence padding after this page continues on",
      2L -> s"padding before $evalSentence2 padding after this page continues on")
      .toDF("doc_id", "text")
    ParityOracles.contaminatedIds(train, Decontam.evalGramStore(catalog, 4))
      .collect().map(_.getLong(0)) shouldBe Array(1L)
    // The corrected set drops the old sentence and adds the new one —
    // republish under the SAME id must remove the stale grams entirely.
    Decontam.publishEvalSet(catalog,
      Seq(901L -> evalSentence2).toDF("doc_id", "text"), nBuckets = 4, setId = "bench")
    ParityOracles.contaminatedIds(train, Decontam.evalGramStore(catalog, 4))
      .collect().map(_.getLong(0)) shouldBe Array(2L)
    Decontam.committedSets(catalog) shouldBe Seq("bench")
  }

  test("retraction: a retracted set stops gating; other sets keep gating") {
    val out = tmpDir("decontam-retract")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4, setId = "s1")
    Decontam.publishEvalSet(catalog,
      Seq(901L -> evalSentence2).toDF("doc_id", "text"), nBuckets = 4, setId = "s2")
    val train = Seq(
      1L -> s"padding before $evalSentence padding after this page continues on",
      2L -> s"padding before $evalSentence2 padding after this page continues on")
      .toDF("doc_id", "text")
    ParityOracles.contaminatedIds(train, Decontam.evalGramStore(catalog, 4))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
    Decontam.retractEvalSet(catalog, "s1", nBuckets = 4)
    Decontam.committedSets(catalog) shouldBe Seq("s2")
    ParityOracles.contaminatedIds(train, Decontam.evalGramStore(catalog, 4))
      .collect().map(_.getLong(0)) shouldBe Array(2L)
  }

  test("a crashed (uncommitted) publish is invisible and the retry converges") {
    val out = tmpDir("decontam-partial")
    val catalog = new TranscriptCatalog(out, spark)
    // Simulate a crash between the gram write and the manifest commit:
    // grams on disk, no eval_sets marker.
    catalog.ensureBucketed(Decontam.GramTable, Decontam.GramSchemaDdl,
      Decontam.GramBucketCols, 4, Decontam.GramPartitionCols)
    catalog.appendBucketed(
      Decontam.gramHashes(Seq(900L -> evalSentence).toDF("doc_id", "text"), "text")
        .select(col("gh"), col("doc_id").as("eval_doc_id"))
        .withColumn("set_id", org.apache.spark.sql.functions.lit("ghost")),
      Decontam.GramTable, Decontam.GramBucketCols, 4, Decontam.GramPartitionCols)
    val train = Seq(
      1L -> s"padding before $evalSentence padding after this page continues on")
      .toDF("doc_id", "text")
    // uncommitted ⇒ invisible (the partial-publish gate) and detectable
    Decontam.committedSets(catalog) shouldBe empty
    ParityOracles.contaminatedIds(train, Decontam.evalGramStore(catalog, 4))
      .count() shouldBe 0L
    // the retry publishes cleanly (step 1 clears the partial partition —
    // no duplicate grams) and the set gates
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4, setId = "ghost")
    val store = Decontam.evalGramStore(catalog, 4)
    store.count() shouldBe store.select("gh").distinct().count()
    ParityOracles.contaminatedIds(train, store)
      .collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("provenance pairs project exactly onto the boolean gate (query and store paths)") {
    val dir = "/root/testdata/sf0.001"
    val out = tmpDir("decontam-pairs")
    val catalog = new TranscriptCatalog(out, spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Decontam.publishEvalSet(catalog, docs.filter(col("doc_id") >= 450), nBuckets = 4)
    val store = Decontam.evalGramStore(catalog, 4)
    val train = docs.filter(col("doc_id") < 450)
    val pairs = OpsQueries.queries("dd_decontam_pairs")(spark, dir).collect()
    pairs should not be empty
    pairs.foreach { r =>
      r.getLong(0) should be < 450L
      r.getLong(1) should be >= 450L
      r.getLong(2) should be >= 1L
    }
    // the store path's boolean gate IS the pair frame projected to
    // distinct train ids
    val viaPairs = pairs.map(_.getLong(0)).toSet
    Decontam.contaminatedIdsBloom(train, store, Decontam.gramBloom(store))
      .collect().map(_.getLong(0)).toSet shouldBe viaPairs
  }

  test("bloom pre-gate: identical result, pre-exchange probe, real pruning") {
    val dir = "/root/testdata/sf0.01"
    val out = tmpDir("decontam-bloom")
    val catalog = new TranscriptCatalog(out, spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Decontam.publishEvalSet(catalog, docs.filter(col("doc_id") >= 450))
    val store = Decontam.evalGramStore(catalog)
    val train = docs.filter(col("doc_id") < 450)
    val sketch = Decontam.gramBloom(store)

    // no false negatives ever: the gated gate equals the ungated one
    val gated = Decontam.contaminatedIdsBloom(train, store, sketch)
    gated.collect().map(_.getLong(0)).toSet shouldBe
      ParityOracles.contaminatedIds(train, store).collect().map(_.getLong(0)).toSet

    // the catalog rows agree (dd_decontam_bloom shares the ngram oracle)
    OpsQueries.queries("dd_decontam_bloom")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet shouldBe
      OpsQueries.queries("dd_decontam_ngram")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet

    // plan gate: the bloom probe runs INSIDE the scan stage — no Exchange
    // anywhere below the Filter carrying bloommightcontain (AQE off for a
    // plain walkable tree)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Decontam.contaminatedIdsBloom(train, store, sketch)
        .queryExecution.executedPlan
      val bloomFilters = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.toLowerCase.contains("bloommightcontain") => f
      }
      bloomFilters should not be empty
      bloomFilters.foreach { f =>
        f.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        } shouldBe empty
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // and the probe genuinely prunes: survivors = true hits + ~1% fpp of
    // the clean grams, far below the full gram volume that would otherwise
    // shuffle
    val grams = Decontam.gramHashes(train, "text")
    val total = grams.count()
    val survivors = grams.filter(
      graft.functions.BloomMightContain.mightContain(col("gh"), sketch)).count()
    survivors.toDouble should be < total * 0.5
  }

  test("persisted sketch lifecycle: current loads, stale rebuilds — never a false negative") {
    val out = tmpDir("decontam-sketch")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4, setId = "s1")
    val sketch1 = Decontam.loadOrBuildGramBloom(catalog, 4)
    val blob1 = catalog.readBlob(Decontam.GramTable, Decontam.SketchBlob).get
    // unchanged manifest ⇒ the persisted sketch is reused byte-for-byte
    Decontam.loadOrBuildGramBloom(catalog, 4)
    catalog.readBlob(Decontam.GramTable, Decontam.SketchBlob).get shouldBe blob1

    val train = Seq(
      1L -> s"padding before $evalSentence padding after this page continues on",
      2L -> s"padding before $evalSentence2 padding after this page continues on")
      .toDF("doc_id", "text")
    Decontam.contaminatedIdsBloom(train, Decontam.evalGramStore(catalog, 4), sketch1)
      .collect().map(_.getLong(0)) shouldBe Array(1L)

    // publishing s2 makes the persisted sketch STALE — blind reuse would
    // false-negative doc 2; loadOrBuild must detect and rebuild
    Decontam.publishEvalSet(catalog,
      Seq(901L -> evalSentence2).toDF("doc_id", "text"), nBuckets = 4, setId = "s2")
    val sketch2 = Decontam.loadOrBuildGramBloom(catalog, 4)
    Decontam.contaminatedIdsBloom(train, Decontam.evalGramStore(catalog, 4), sketch2)
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)

    // retraction invalidates too; a leftover sketch bit for s1's grams is
    // at worst a false positive, removed by the exact join
    Decontam.retractEvalSet(catalog, "s1", nBuckets = 4)
    val sketch3 = Decontam.loadOrBuildGramBloom(catalog, 4)
    Decontam.contaminatedIdsBloom(train, Decontam.evalGramStore(catalog, 4), sketch3)
      .collect().map(_.getLong(0)) shouldBe Array(2L)
  }

  test("re-publishing the SAME set id invalidates the persisted sketch — no false-negative gate") {
    // The round-6 review case: committedSets is UNCHANGED by a same-id
    // re-publish, so the sketch header alone cannot detect it —
    // publish/retract must delete the blob.
    val out = tmpDir("decontam-samerepub")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4, setId = "s1")
    Decontam.loadOrBuildGramBloom(catalog, 4) // persist the v1 sketch
    // corrected set under the SAME id: different sentences entirely
    Decontam.publishEvalSet(catalog,
      Seq(901L -> evalSentence2).toDF("doc_id", "text"), nBuckets = 4, setId = "s1")
    val sketch = Decontam.loadOrBuildGramBloom(catalog, 4)
    val train = Seq(
      1L -> s"padding before $evalSentence padding after this page continues on",
      2L -> s"padding before $evalSentence2 padding after this page continues on")
      .toDF("doc_id", "text")
    // a stale sketch would pre-gate away the corrected grams → miss doc 2
    Decontam.contaminatedIdsBloom(train, Decontam.evalGramStore(catalog, 4), sketch)
      .collect().map(_.getLong(0)) shouldBe Array(2L)
  }

  test("a legacy un-versioned gram store fails fast instead of silently gating nothing") {
    val out = tmpDir("decontam-legacy")
    val catalog = new TranscriptCatalog(out, spark)
    // simulate a pre-versioning store: gram parquet at the table ROOT
    Seq("deadbeef").toDF("gh").write.mode("overwrite")
      .parquet(s"$out/${Decontam.GramTable}")
    val ex = intercept[IllegalArgumentException] {
      Decontam.evalGramStore(catalog, 4)
    }
    ex.getMessage should include("legacy")
  }

  test("a corrupt persisted sketch blob rebuilds instead of crashing every load") {
    val out = tmpDir("decontam-corruptblob")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4, setId = "s1")
    Decontam.loadOrBuildGramBloom(catalog, 4) // persist a valid sketch
    // truncated / garbage blobs — both must fall through to a rebuild,
    // and the rebuilt sketch must still gate correctly (no false negative)
    for (bad <- Seq(Array[Byte](1, 2, 3), Array.fill(64)(0x7f.toByte))) {
      catalog.writeBlob(Decontam.GramTable, Decontam.SketchBlob, bad)
      val sketch = Decontam.loadOrBuildGramBloom(catalog, 4)
      val train = Seq(
        1L -> s"padding before $evalSentence padding after this page continues on",
        2L -> "totally clean text with nothing shared at all here today now")
        .toDF("doc_id", "text")
      Decontam.contaminatedIdsBloom(train, Decontam.evalGramStore(catalog, 4), sketch)
        .collect().map(_.getLong(0)) shouldBe Array(1L)
      // and the rebuild re-persisted a VALID blob (next load reuses it)
      catalog.readBlob(Decontam.GramTable, Decontam.SketchBlob).get should not be bad
    }
  }

  test("an eval set id that would break the partition protocol is rejected") {
    val out = tmpDir("decontam-badid")
    val catalog = new TranscriptCatalog(out, spark)
    intercept[IllegalArgumentException] {
      Decontam.publishEvalSet(catalog,
        Seq(1L -> evalSentence).toDF("doc_id", "text"), nBuckets = 4,
        setId = "q1'24/bench")
    }.getMessage should include("set id")
  }

  test("store gate equals the oracled dd_decontam_ngram on the real corpus") {
    val dir = "/root/testdata/sf0.01"
    val out = tmpDir("decontam-corpus")
    val catalog = new TranscriptCatalog(out, spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Decontam.publishEvalSet(catalog, docs.filter(col("doc_id") >= 450))
    val store = Decontam.evalGramStore(catalog)
    val viaStore = ParityOracles
      .contaminatedIds(docs.filter(col("doc_id") < 450), store)
      .collect().map(_.getLong(0)).toSet
    val viaCatalogQuery = OpsQueries.queries("dd_decontam_ngram")(spark, dir)
      .filter(col("is_contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    viaStore shouldBe viaCatalogQuery
  }
}
