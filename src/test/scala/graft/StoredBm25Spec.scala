package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StoredIndex

/** q_c45 stored-postings BM25: the stored search must be row-identical to
  * the derived q_c12 plan, the postings scan must push the term predicate
  * into parquet (queries cost O(matching postings), not O(corpus)), and
  * the index must be reused — not rebuilt — across calls within one
  * corpus snapshot.
  */
class StoredBm25Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-storedbm25-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stored search is row-identical to the derived q_c12 plan") {
    val stored = SparkEntry.queries("q_c45_bm25_stored")(spark, sf)
      .collect().map(_.toString).toSeq
    val derived = SparkEntry.queries("q_c12_bm25")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == derived)
  }

  test("q_c70: base index + appended batch postings == full stored search == q_c12") {
    import org.apache.spark.sql.functions._
    val appended = SparkEntry.queries("q_c70_bm25_append")(spark, sf)
      .collect().map(_.toString).toSeq
    val stored = SparkEntry.queries("q_c45_bm25_stored")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(appended.nonEmpty && appended == stored,
      "incremental postings maintenance must lose nothing vs a rebuild")
    // the base index genuinely excludes the batch, and its stats are the
    // base corpus's — the append path cannot be serving a full index
    val basePath = s"${StoredIndex.segments(spark, StoredIndex.Bm25, sf)}/seg0"
    val baseDocs = spark.read.parquet(s"$basePath/postings")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0))
    assert(baseDocs.nonEmpty && baseDocs.forall(_ % 10 != 3))
    val baseN = spark.read.parquet(s"$basePath/stats").collect()(0).getDouble(0)
    val fullN = graft.core.Tables(spark, sf, "documents").count().toDouble
    assert(baseN < fullN, "base stats must cover only the base corpus")
  }

  test("term predicate pushes into the postings parquet scan") {
    val path = StoredIndex.full(spark, StoredIndex.Bm25, sf)
    val plan = graft.operators.TextQueries
      .bm25SearchStored(spark, path, Seq("hash", "join", "filter"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term") || plan.contains("PushedFilters: [IsNotNull(term), In(term"),
      s"term filter not pushed:\n${plan.take(2000)}")
  }

  test("q_c123: compacted segments == full stored search, term pushdown intact") {
    val compacted = SparkEntry.queries("q_c123_bm25_compacted")(spark, sf)
      .collect().map(_.toString).toSeq
    val stored = SparkEntry.queries("q_c45_bm25_stored")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(compacted.nonEmpty && compacted == stored,
      "compaction must lose nothing vs a one-shot build")
    // the compacted artifact is ONE postings table (the read-side point
    // of compacting) and keeps the q_c45 pushdown property
    val segPath = StoredIndex.segments(spark, StoredIndex.Bm25, sf)
    val path = StoredIndex.compacted(spark, StoredIndex.Bm25, segPath)
    val plan = graft.operators.TextQueries
      .bm25SearchStored(spark, path, Seq("hash", "join", "filter"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term") ||
      plan.contains("PushedFilters: [IsNotNull(term), In(term"),
      s"term filter not pushed on the compacted scan:\n${plan.take(2000)}")
    // stats summed across segments == the full corpus pair
    val st = spark.read.parquet(s"$path/stats").collect()(0)
    val full = graft.core.Tables(spark, sf, "documents")
      .selectExpr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).cast("double"),
        org.apache.spark.sql.functions.sum("n").cast("double")).collect()(0)
    assert(st.getDouble(0) == full.getDouble(0) && st.getDouble(1) == full.getDouble(1))
  }

  test("compaction reads only the stored segments, never the corpus") {
    // build segments over a COPY of the corpus, delete the copy, then
    // compact: if the merge touched documents.parquet it would fail, and
    // the compacted search must still reproduce the full-corpus answer
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-proof")
    val docsCopy = tmp.resolve("documents.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"), docsCopy)
    val segPath = StoredIndex.segments(spark, StoredIndex.Bm25, tmp.toString)
    java.nio.file.Files.delete(docsCopy)
    val compacted = graft.operators.TextQueries.bm25SearchStored(
      spark, StoredIndex.compacted(spark, StoredIndex.Bm25, segPath),
      Seq("hash", "join", "filter")).collect().map(_.toString).toSeq
    val stored = SparkEntry.queries("q_c45_bm25_stored")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(compacted.nonEmpty && compacted == stored,
      "compacted-after-corpus-deletion search must equal the full answer")
    java.nio.file.Files.delete(tmp)
  }

  test("index is built once per corpus snapshot, then reused") {
    val p1 = StoredIndex.full(spark, StoredIndex.Bm25, sf)
    val p2 = StoredIndex.full(spark, StoredIndex.Bm25, sf)
    assert(p1 == p2, "index rebuilt within an unchanged snapshot")
    // the postings table carries complete per-term postings: df computed
    // from a term's fetched rows equals the corpus document frequency
    val post = spark.read.parquet(s"$p1/postings")
    val dfStored = post.filter(org.apache.spark.sql.functions.col("term") === "hash").count()
    val dfCorpus = graft.core.Tables(spark, sf, "documents")
      .selectExpr("doc_id", "explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS term")
      .filter("term = 'hash'").select("doc_id").distinct().count()
    assert(dfStored == dfCorpus)
  }
}
