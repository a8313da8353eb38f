package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StoredIndex

/** q_c103 positional phrase search.
  *
  * The planted fixture pins the exact output contract by hand — including
  * the overlapping-occurrence case ("x x x" contains the phrase "x x"
  * TWICE) and the count-desc/lexicographic top-5 tie-break — and the
  * sf0.001 tests pin the q_c45 stored-index disciplines: term predicate
  * pushed into the postings parquet scan, index built once per corpus
  * snapshot. Index ≡ brute-force-scan parity is covered cross-engine by
  * the DuckDB oracle and inside Spark by SqlParitySpec's q_c103 twin.
  */
class PhraseSearchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-phrase-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = java.nio.file.Files.createTempDirectory("graft-phrase").toString
    val s = spark
    import s.implicits._
    Seq(
      (1L, "x x x"),             // (x,x) twice — overlapping occurrences
      (2L, "red fox red fox"),   // (red,fox) ×2, (fox,red) ×1
      (3L, "red fox jumps"),     // (red,fox), (fox,jumps)
      (4L, "blue sky"),          // (blue,sky)
      (5L, "red big fox"))       // red..fox at distance 2 — prox-only hit
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    graft.core.LocalArtifacts.deleteRecursively(dir)
  }

  test("planted corpus: counts, overlap semantics, and top-5 tie-break") {
    val rows = SparkEntry.queries("q_c103_phrase_search")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // bigram counts: (red,fox)=3, (x,x)=2, then cnt-1 ties cut
    // lexicographically: (big,fox), (blue,sky), (fox,jumps) — and
    // (fox,red)/(red,big) fall off the top-5
    assert(rows === Seq(
      ("big fox", 1L, 1L, 5L, 5L),
      ("blue sky", 1L, 1L, 4L, 4L),
      ("fox jumps", 1L, 1L, 3L, 3L),
      ("red fox", 2L, 3L, 2L, 3L),
      ("x x", 1L, 2L, 1L, 1L)))
  }

  test("planted corpus: proximity window finds the distance-2 hit, adj stats agree with q_c103") {
    val rows = SparkEntry.queries("q_c106_proximity_search")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(rows === Seq(
      ("big fox", 1L, 1L, 1L, 1L, 1000L),
      ("blue sky", 1L, 1L, 1L, 1L, 1000L),
      ("fox jumps", 1L, 1L, 1L, 1L, 1000L),
      // doc5 "red big fox" matches only the slop window; doc2 adds the
      // (0,3) distance-3 pair to n_occ_prox
      ("red fox", 2L, 3L, 3L, 5L, 1500L),
      ("x x", 1L, 1L, 2L, 3L, 1000L)))
    // internal consistency: the strict-adjacency columns ARE q_c103's
    val adj = SparkEntry.queries("q_c103_phrase_search")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(r => (r._1, r._2, r._4)) === adj)
  }

  test("q_c107: base index + appended batch == full stored search") {
    import org.apache.spark.sql.functions.col
    val appended = SparkEntry.queries("q_c107_phrase_append")(spark, sf)
      .collect().map(_.toString).toSeq
    val stored = SparkEntry.queries("q_c103_phrase_search")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(appended.nonEmpty && appended == stored,
      "incremental positional maintenance must lose nothing vs a rebuild")
    // the base index genuinely excludes the batch docs
    val basePath = s"${StoredIndex.segments(spark, StoredIndex.Phrase, sf)}/seg0"
    val baseDocs = spark.read.parquet(s"$basePath/postings")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0))
    assert(baseDocs.nonEmpty && baseDocs.forall(_ % 10 != 3))
  }

  test("q_c128: compacted segments == full stored search; bigram table == one-shot build") {
    import org.apache.spark.sql.functions.col
    val compacted = SparkEntry.queries("q_c128_phrase_compacted")(spark, sf)
      .collect().map(_.toString).toSeq
    val stored = SparkEntry.queries("q_c103_phrase_search")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(compacted.nonEmpty && compacted == stored,
      "phrase compaction must lose nothing vs a one-shot build")
    // the summed segment bigram tables equal the full build's table —
    // the additive-count property the merge relies on
    val segPath = StoredIndex.segments(spark, StoredIndex.Phrase, sf)
    val path = StoredIndex.compacted(spark, StoredIndex.Phrase, segPath)
    val fullPath = StoredIndex.full(spark, StoredIndex.Phrase, sf)
    def bigrams(p: String) = spark.read.parquet(s"$p/bigrams")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(bigrams(path) === bigrams(fullPath))
    // pushdown survives compaction and the compacted search never
    // touches the corpus
    val plan = graft.operators.TextQueries.phraseSearchStored(spark, path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term")
        || plan.contains("PushedFilters: [IsNotNull(term), In(term"),
      s"term filter not pushed on the compacted scan:\n${plan.take(2000)}")
    assert(!plan.contains("documents.parquet") && plan.contains(path))
  }

  test("term predicate pushes into the positional postings scan") {
    val path = StoredIndex.full(spark, StoredIndex.Phrase, sf)
    val plan = graft.operators.TextQueries.phraseSearchStored(spark, path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term")
        || plan.contains("PushedFilters: [IsNotNull(term), In(term"),
      s"term filter not pushed:\n${plan.take(2000)}")
  }

  test("warm stored searches never scan the corpus — only the index") {
    val path = StoredIndex.full(spark, StoredIndex.Phrase, sf)
    for (df <- Seq(
        graft.operators.TextQueries.phraseSearchStored(spark, path),
        graft.operators.TextQueries.proximitySearchStored(spark, path))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        s"stored search must cost O(matching postings), not O(corpus):\n${plan.take(1500)}")
      assert(plan.contains(path), "search must read the stored artifact")
    }
  }

  test("streaming ingestion: postings + bigram state serve == q_c107 batch append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // the q_c107 batch arrives as a LIVE stream in deliberately uneven
    // micro-batches
    val batchRows = graft.core.Tables(sp, sf, "documents")
      .filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    assert(batchRows.length > 2, "fixture must stream more than one chunk")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // stateless half: positional postings rows are final on arrival
    val qPost = graft.streaming.StreamingOps.phrasePostingUpdates(docs)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_post").toString)
      .format("memory").queryName("phrasepost").outputMode("append").start()
    // additive half: bigram counts merge across micro-batches
    val qBg = graft.streaming.StreamingOps.phraseBigramUpdates(docs)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_bg").toString)
      .format("memory").queryName("phrasebg").outputMode("complete").start()
    for (chunk <- Seq(batchRows.take(1), batchRows.slice(1, 3), batchRows.drop(3))) {
      input.addData(chunk.toSeq)
      qPost.processAllAvailable()
      qBg.processAllAvailable()
    }
    val basePath = s"${StoredIndex.segments(sp, StoredIndex.Phrase, sf)}/seg0"
    val served = graft.streaming.StreamingOps
      .phraseAppendServe(sp, basePath, sp.table("phrasepost"), sp.table("phrasebg"))
      .collect().map(_.toString).toSeq
    qPost.stop(); qBg.stop()
    val batch = SparkEntry.queries("q_c107_phrase_append")(spark, sf)
      .collect().map(_.toString).toSeq
    graft.core.CachedRdds.drain()
    assert(served.nonEmpty && served === batch,
      "stateless postings + additive bigram state through the shared report " +
        "tail must equal the batch append, however unevenly the batch arrived")
  }

  test("index is built once per corpus snapshot, then reused") {
    val p1 = StoredIndex.full(spark, StoredIndex.Phrase, sf)
    val p2 = StoredIndex.full(spark, StoredIndex.Phrase, sf)
    assert(p1 == p2, "index rebuilt within an unchanged snapshot")
    // positional postings are complete per term: every corpus occurrence
    // of a term is present, so occurrence counts from the index equal a
    // direct corpus count
    val post = spark.read.parquet(s"$p1/postings")
    val term = post.limit(1).collect()(0).getString(0)
    val nStored = post.filter(org.apache.spark.sql.functions.col("term") === term).count()
    val nCorpus = graft.core.Tables(spark, sf, "documents")
      .selectExpr("explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS t")
      .filter(s"t = '$term'").count()
    assert(nStored == nCorpus && nStored > 0)
  }
}
