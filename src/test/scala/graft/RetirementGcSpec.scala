package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries
import graft.operators.StoredIndex

/** q_c141 — the retirement GC verb. q_c133 certifies that segments are
  * retire-able; this spec proves the ACTION: certified segments are
  * deleted and the search the index exists for is unchanged (the
  * Int8CompactSpec corpus-deletes-first discipline — the post-GC search
  * runs with the source corpus gone, so it provably serves from the
  * surviving artifact alone), the decision is journaled, and — the
  * half that makes the gate real — a compaction that is NOT a faithful
  * union refuses to drop anything.
  */
class RetirementGcSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val terms = Seq("hash", "join", "filter")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-gc-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("GC drops certified segments; post-GC search == pre-GC search with the corpus deleted") {
    // build over a COPY of the corpus so the source can be deleted
    // before the post-GC search — proof the artifact serves alone
    val tmp = Files.createTempDirectory("graft-gc-proof")
    val docCopy = tmp.resolve("documents.parquet")
    Files.copy(Paths.get(sf, "documents.parquet"), docCopy)
    // the pre-GC answer: scored straight off the segment union (the
    // layout a reader would hit BEFORE compaction + GC)
    val segPath = StoredIndex.segments(spark, StoredIndex.Bm25, tmp.toString)
    val pre = TextQueries.bm25Score(
      spark.read.parquet(s"$segPath/seg0/postings", s"$segPath/seg1/postings"),
      spark.read.parquet(s"$segPath/seg0/stats", s"$segPath/seg1/stats")
        .agg(sum(col("n_docs")).cast("double").as("n_docs"),
          sum(col("tot")).cast("double").as("tot")),
      terms).collect().map(_.toString).toSeq
    val gcPath = StoredIndex.gc(spark, StoredIndex.Bm25, tmp.toString)
    Files.delete(docCopy)
    // the segments are GONE — the verb acted
    assert(!Files.exists(Paths.get(gcPath, "segments", "seg0")))
    assert(!Files.exists(Paths.get(gcPath, "segments", "seg1")))
    // and the journal says exactly that, verdicts included
    val log = spark.read.parquet(s"$gcPath/gc_log").collect()
      .map(r => (r.getAs[String]("tbl"), r.getAs[String]("segment"),
        r.getAs[Long]("retire"), r.getAs[String]("action")))
      .sortBy(_._2).toSeq
    assert(log == Seq(("postings", "compacted", 1L, "kept"),
      ("postings", "seg0", 1L, "dropped"), ("postings", "seg1", 1L, "dropped")))
    // the search the index exists for is unchanged by retirement
    val post = TextQueries
      .bm25SearchStored(spark, s"$gcPath/compacted", terms)
      .collect().map(_.toString).toSeq
    assert(post.nonEmpty && post == pre,
      "post-GC search must equal the pre-GC segment-union search")
    graft.core.CachedRdds.drain()
  }

  test("a tampered compaction refuses to GC: verdict 0, nothing deleted") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-gc-refuse").toString
    val seg0 = Seq(("hash", 1L, 2L, 10L), ("join", 2L, 1L, 7L))
    val seg1 = Seq(("filter", 3L, 3L, 12L), ("hash", 4L, 1L, 5L))
    seg0.toDF("term", "doc_id", "tf", "dl")
      .write.parquet(s"$tmp/seg0/postings")
    seg1.toDF("term", "doc_id", "tf", "dl")
      .write.parquet(s"$tmp/seg1/postings")
    // the compaction LOST a row — not a faithful union
    (seg0 ++ seg1).tail.toDF("term", "doc_id", "tf", "dl")
      .write.parquet(s"$tmp/compacted/postings")
    val log = StoredIndex.retirementGc(spark,
      Seq("seg0" -> s"$tmp/seg0", "seg1" -> s"$tmp/seg1"),
      s"$tmp/compacted", Seq("postings" -> None))
    assert(log.exists(_._6 == 0L), "the verdict must catch the lost row")
    assert(log.forall(_._7 == "kept"), "no segment may be dropped on a failed verdict")
    // the directories are untouched — the refusal is real
    assert(Files.exists(Paths.get(s"$tmp/seg0/postings")))
    assert(Files.exists(Paths.get(s"$tmp/seg1/postings")))
    graft.core.CachedRdds.drain()
  }

  test("multi-table gate: a tampered SECOND table keeps every directory, healthy first table included") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-gc-joint").toString
    val post0 = Seq(("hash", 1L, 2L, 10L)); val post1 = Seq(("join", 2L, 1L, 7L))
    post0.toDF("term", "doc_id", "tf", "dl").write.parquet(s"$tmp/seg0/postings")
    post1.toDF("term", "doc_id", "tf", "dl").write.parquet(s"$tmp/seg1/postings")
    (post0 ++ post1).toDF("term", "doc_id", "tf", "dl")
      .write.parquet(s"$tmp/compacted/postings")   // faithful union
    val bg0 = Seq(("a", "b", 3L)); val bg1 = Seq(("a", "b", 2L))
    bg0.toDF("w1", "w2", "cnt").write.parquet(s"$tmp/seg0/bigrams")
    bg1.toDF("w1", "w2", "cnt").write.parquet(s"$tmp/seg1/bigrams")
    Seq(("a", "b", 4L)).toDF("w1", "w2", "cnt")    // 3 + 2 summed WRONG
      .write.parquet(s"$tmp/compacted/bigrams")
    val log = StoredIndex.retirementGc(spark,
      Seq("seg0" -> s"$tmp/seg0", "seg1" -> s"$tmp/seg1"),
      s"$tmp/compacted",
      Seq("postings" -> None, "bigrams" -> Some("cnt")))
    assert(log.filter(_._1 == "postings").forall(_._6 == 1L),
      "the healthy table's verdicts fire")
    assert(log.exists(r => r._1 == "bigrams" && r._6 == 0L),
      "the tampered table's verdict must catch the bad sum")
    assert(log.forall(_._7 == "kept"),
      "one failing table must keep EVERY directory — the tables live and die together")
    assert(Files.exists(Paths.get(s"$tmp/seg0/postings")))
    assert(Files.exists(Paths.get(s"$tmp/seg1/bigrams")))
    graft.core.CachedRdds.drain()
  }

  test("family sweep: minhash/ivf/phrase GC each drop certified segments; post-GC search == pre-GC segment-union search, source deleted first") {
    import graft.operators.{DedupQueries, SimilarityQueries}
    // ---- MinHash: banded candidates off the union of segment sigs ----
    locally {
      val tmp = Files.createTempDirectory("graft-gc-mh")
      Files.copy(Paths.get(sf, "documents.parquet"), tmp.resolve("documents.parquet"))
      val segPath = StoredIndex.segments(spark, StoredIndex.MinHash, tmp.toString)
      val pre = DedupQueries.candidatesFromSigs(
        spark.read.parquet(s"$segPath/seg0/sigs", s"$segPath/seg1/sigs"))
        .collect().map(_.toString).sorted.toSeq
      val gc = StoredIndex.gc(spark, StoredIndex.MinHash, tmp.toString)
      Files.delete(tmp.resolve("documents.parquet"))
      assert(!Files.exists(Paths.get(gc, "segments", "seg0")))
      assert(!Files.exists(Paths.get(gc, "segments", "seg1")))
      val post = DedupQueries.minhashSearchStored(spark, s"$gc/compacted")
        .collect().map(_.toString).sorted.toSeq
      assert(post.nonEmpty && post == pre,
        "minhash: post-GC candidates must equal the pre-GC segment-union candidates")
    }
    // ---- int8-IVF: symmetric stage-1 off the union of segment codes ----
    locally {
      val tmp = Files.createTempDirectory("graft-gc-ivf")
      Files.copy(Paths.get(sf, "embeddings.parquet"), tmp.resolve("embeddings.parquet"))
      val segPath = StoredIndex.segments(spark, StoredIndex.Ivf, tmp.toString)
      val pre = SimilarityQueries.ivfStage1SymFrames(spark,
        spark.read.parquet(s"$segPath/model").head().getInt(1),
        spark.read.parquet(s"$segPath/seg0/codes", s"$segPath/seg1/codes"),
        spark.read.parquet(s"$segPath/cents"))
        .collect().map(_.toString).toSeq
      val gc = StoredIndex.gc(spark, StoredIndex.Ivf, tmp.toString)
      Files.delete(tmp.resolve("embeddings.parquet"))
      assert(!Files.exists(Paths.get(gc, "segments", "seg0")))
      assert(!Files.exists(Paths.get(gc, "segments", "seg1")))
      val post = SimilarityQueries.ivfStage1Sym(spark, s"$gc/compacted")
        .collect().map(_.toString).toSeq
      assert(post.nonEmpty && post == pre,
        "ivf: post-GC stage-1 must equal the pre-GC segment-union stage-1")
    }
    // ---- phrase: BOTH tables — union postings, per-key-summed bigrams ----
    locally {
      val tmp = Files.createTempDirectory("graft-gc-ph")
      Files.copy(Paths.get(sf, "documents.parquet"), tmp.resolve("documents.parquet"))
      val segPath = StoredIndex.segments(spark, StoredIndex.Phrase, tmp.toString)
      val pre = TextQueries.phraseReport(spark,
        spark.read.parquet(s"$segPath/seg0/postings", s"$segPath/seg1/postings"),
        spark.read.parquet(s"$segPath/seg0/bigrams", s"$segPath/seg1/bigrams")
          .groupBy(col("w1"), col("w2"))
          .agg(sum(col("cnt")).cast("long").as("cnt")))
        .collect().map(_.toString).toSeq
      val gc = StoredIndex.gc(spark, StoredIndex.Phrase, tmp.toString)
      Files.delete(tmp.resolve("documents.parquet"))
      assert(!Files.exists(Paths.get(gc, "segments", "seg0")))
      assert(!Files.exists(Paths.get(gc, "segments", "seg1")))
      // the journal records one verdict row per (table, segment): both
      // tables certified, each directory dropped exactly once
      val log = spark.read.parquet(s"$gc/gc_log").collect()
        .map(r => (r.getAs[String]("tbl"), r.getAs[String]("segment"),
          r.getAs[Long]("retire"), r.getAs[String]("action"))).toSeq
      assert(log.length == 6 && log.forall(_._3 == 1L))
      assert(log.count(_._4 == "dropped") == 4,
        "two tables x two segments journal four dropped rows")
      val post = TextQueries.phraseSearchStored(spark, s"$gc/compacted")
        .collect().map(_.toString).toSeq
      assert(post.nonEmpty && post == pre,
        "phrase: post-GC search must equal the pre-GC segment-union search")
    }
    graft.core.CachedRdds.drain()
  }

  test("registered GC frames are well-formed: search rows + GC outcome (all three new families)") {
    Seq("q_c144_minhash_gc", "q_c145_ivf_gc", "q_c146_phrase_gc").foreach { q =>
      val out = SparkEntry.queries(q)(spark, sf).collect()
      assert(out.nonEmpty, s"$q must serve rows post-GC")
      out.foreach { r =>
        assert(r.getAs[Long]("n_dropped") == 2L, s"$q drops both segments")
        assert(r.getAs[Long]("n_live_segments") == 0L, s"$q leaves no live segment")
      }
    }
    graft.core.CachedRdds.drain()
  }

  test("q_c148 audit pane: one certified row per family, journals consistent with listings") {
    val out = SparkEntry.queries("q_c148_gc_audit")(spark, sf).collect()
    assert(out.map(_.getAs[String]("family")).toSeq ==
      Seq("bm25", "ivf", "minhash", "phrase"))
    out.foreach { r =>
      val fam = r.getAs[String]("family")
      assert(r.getAs[Long]("n_tables") == (if (fam == "phrase") 2L else 1L))
      assert(r.getAs[Long]("n_journal_rows") == (if (fam == "phrase") 6L else 3L),
        s"$fam journals one row per (table x segment-or-compacted)")
      assert(r.getAs[Long]("n_dropped") == 2L)
      assert(r.getAs[Long]("all_certified") == 1L)
      assert(r.getAs[Long]("n_live_segments") == 0L)
    }
    graft.core.CachedRdds.drain()
  }

  test("q_c141's registered frame is well-formed: search rows + GC outcome") {
    val out = SparkEntry.queries("q_c141_retirement_gc")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_dropped") == 2L)
      assert(r.getAs[Long]("n_live_segments") == 0L)
    }
    // descending score order, unique docs
    val scores = out.map(_.getAs[Double]("bm25")).toSeq
    assert(scores == scores.sorted.reverse)
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == out.length)
    graft.core.CachedRdds.drain()
  }
}
