package graft.operators

import graft.core.{SessionMemo, StoredArtifact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The segmented stored-index lifecycle — build, search, append,
  * compact, retire, GC — written ONCE for the four index families. A
  * family is data ([[Family]]); each kind of artifact (`full`,
  * `segments`, `compacted`, `gc`) is one [[graft.core.StoredArtifact]]
  * per family. `seg0` holds the id % 10 <> 3 base — the index the
  * append and drift queries extend — and `seg1` the arriving batch.
  *
  * On-disk layout (the contract `gcServe`, `gcAuditRow` and the DuckDB
  * parity replays in tools/compare_oracle.py read): `segN/<table>`,
  * `compacted/<table>`, `gc_log`; a family's frozen model tables (int8
  * `model`/`cents`) live only at the segments root or under
  * `compacted/` — never under a GC artifact's `segments/`, whose listing
  * counts live segments.
  */
object StoredIndex {

  /** How compaction folds a table's per-segment copies into one. */
  sealed trait Compaction
  /** Row union, range-partitioned on `range`, sorted within partitions on `sort`. */
  final case class Union(range: Seq[String], sort: Seq[String]) extends Compaction
  /** Per-key sum of an additive count column. */
  final case class WeightedSum(keys: Seq[String], weight: String) extends Compaction
  /** Column-wise sum of a keyless table of additive scalars. */
  case object KeylessSum extends Compaction
  /** Frozen model state, copied unchanged from the model root. */
  case object Carried extends Compaction

  final case class Table(name: String, compaction: Compaction)

  /** One index family as data.
    *   - `source` / `idCol`: the corpus table and the key the slices split on;
    *   - `slice(s, rows, modelRoot, out)`: write one slice's tables under `out`;
    *   - `train(s, baseRows, root)`: write a frozen model's [[Carried]]
    *     tables under `root` before any slice is coded;
    *   - `gated`: the tables the retirement verdict certifies;
    *   - `queries`: (search, verdict, gc) — the registered consumers
    *     whose dumps record the artifact paths (graft.Verify).
    */
  final class Family(
      val name: String,
      val source: String,
      val idCol: String,
      val tables: Seq[Table],
      val gated: Seq[String],
      val slice: (SparkSession, DataFrame, String, String) => Unit,
      val train: Option[(SparkSession, DataFrame, String) => Unit],
      val hasFull: Boolean,
      val queries: (String, String, String)) {
    private[operators] val fullBuilt = new StoredArtifact(s"graft-$name-index")
    private[operators] val segmentsBuilt = new StoredArtifact(s"graft-$name-segments")
    private[operators] val compactedBuilt = new StoredArtifact(s"graft-$name-compacted")
    private[operators] val gcBuilt = new StoredArtifact(s"graft-$name-gc")

    /** The verdict's (table, weight column) pairs: a per-key-summed
      * table is certified by the weighted digest.
      */
    def gates: Seq[(String, Option[String])] =
      gated.map(g => g -> tables.collectFirst { case Table(`g`, WeightedSum(_, w)) => w })
  }

  val Bm25 = new Family("bm25", "documents", "doc_id",
    Seq(Table("postings", Union(Seq("term"), Seq("term", "doc_id"))),
      Table("stats", KeylessSum)),
    gated = Seq("postings"),
    slice = (_, docs, _, out) => TextQueries.buildPostingsIndex(docs, out),
    train = None, hasFull = true,
    queries = ("q_c45_bm25_stored", "q_c133_segment_retirement", "q_c141_retirement_gc"))

  val Phrase = new Family("phrase", "documents", "doc_id",
    Seq(Table("postings", Union(Seq("term"), Seq("term", "doc_id", "pos"))),
      Table("bigrams", WeightedSum(Seq("w1", "w2"), "cnt"))),
    gated = Seq("postings", "bigrams"),
    slice = (s, docs, _, out) => TextQueries.buildPhraseIndex(s, docs, out),
    train = None, hasFull = true,
    queries = ("q_c103_phrase_search", "q_c136_phrase_retirement", "q_c146_phrase_gc"))

  val MinHash = new Family("minhash", "documents", "doc_id",
    Seq(Table("sigs", Union(Seq("doc_id"), Seq("doc_id")))),
    gated = Seq("sigs"),
    slice = (_, docs, _, out) => DedupQueries.buildMinhashIndex(docs, out),
    train = None, hasFull = true,
    queries = ("q_c66_minhash_stored", "q_c134_minhash_retirement", "q_c144_minhash_gc"))

  /** int8-IVF: codes under a quantizer trained once on the base slice and
    * then FROZEN (q_c71's append discipline) — the model is carried, never
    * retrained. No full build: its search serves the compacted segments.
    */
  val Ivf = new Family("ivf", "embeddings", "vec_id",
    Seq(Table("codes", Union(Seq("cell", "vec_id"), Seq("cell", "vec_id"))),
      Table("model", Carried), Table("cents", Carried)),
    gated = Seq("codes"),
    slice = (s, emb, model, out) => {
      val (fn, _, _) = SimilarityQueries.frozenQuantizer(s, model)
      SimilarityQueries.buildInt8Index(
        s, SimilarityQueries.embDoubleOf(emb), fn, s"$out/codes")
    },
    train = Some((s, emb, root) => SimilarityQueries.writeFrozenModel(s, emb, root)),
    hasFull = false,
    queries = ("q_c131_ivf_stage1", "q_c135_ivf_retirement", "q_c145_ivf_gc"))

  val families: Seq[Family] = Seq(Bm25, Ivf, MinHash, Phrase)

  private val segmentNames = Seq("seg0", "seg1")

  /** Each segment's corpus rows: the id % 10 <> 3 base, then the batch. */
  private def sliceRows(s: SparkSession, fam: Family, d: String): Seq[DataFrame] = {
    val id = col(fam.idCol)
    Seq(id % 10 =!= 3, id % 10 === 3).map(Tables(s, d, fam.source).filter(_))
  }

  private def corpusSnapshot(s: SparkSession, fam: Family, d: String): String =
    SessionMemo.snapshot(s, Seq(s"$d/${fam.source}.parquet"))

  /** The whole corpus through the family's slice recipe. */
  def full(s: SparkSession, fam: Family, d: String): String = {
    require(fam.hasFull, s"the ${fam.name} family has no full build")
    fam.fullBuilt.getOrBuild(d, corpusSnapshot(s, fam, d)) { path =>
      fam.slice(s, Tables(s, d, fam.source), path, path)
    }
  }

  /** The segmented index: seg0 (base) and seg1 (batch), each built by the
    * slice recipe from its corpus slice alone; a frozen model is trained
    * on the base slice and stored at the root.
    */
  def segments(s: SparkSession, fam: Family, d: String): String =
    fam.segmentsBuilt.getOrBuild(d, corpusSnapshot(s, fam, d)) { path =>
      fam.train.foreach(_(s, sliceRows(s, fam, d).head, path))
      writeSegments(s, fam, d, path, path)
    }

  /** The compacted artifact. Keyed on the SEGMENT directory's content
    * snapshot — compaction reads the stored segments alone, never the
    * corpus, and the key says so.
    */
  def compacted(s: SparkSession, fam: Family, segPath: String): String =
    fam.compactedBuilt.getOrBuild(segPath, SessionMemo.snapshot(s, Seq(segPath))) { path =>
      compact(s, fam, segPath, segPath, path)
    }

  /** The GC'd artifact: segments and compaction written into its OWN copy
    * (GC is destructive by design — it never acts on the shared segments
    * store other queries replay), the verdict recomputed, certified
    * segment directories deleted, the journal written. A frozen model is
    * the shared segments artifact's (trained once per snapshot) and lands
    * only under `compacted/`.
    */
  def gc(s: SparkSession, fam: Family, d: String): String =
    fam.gcBuilt.getOrBuild(d, corpusSnapshot(s, fam, d)) { path =>
      val modelRoot = if (fam.train.isDefined) segments(s, fam, d) else path
      writeSegments(s, fam, d, s"$path/segments", modelRoot)
      compact(s, fam, s"$path/segments", modelRoot, s"$path/compacted")
      writeGcLog(s, retirementGc(s,
        segmentNames.map(g => g -> s"$path/segments/$g"),
        s"$path/compacted", fam.gates), path)
    }

  private def writeSegments(
      s: SparkSession, fam: Family, d: String, root: String, modelRoot: String): Unit =
    segmentNames.zip(sliceRows(s, fam, d)).foreach { case (g, rows) =>
      fam.slice(s, rows, modelRoot, s"$root/$g")
    }

  private def compact(
      s: SparkSession, fam: Family, segRoot: String, modelRoot: String, out: String): Unit =
    fam.tables.foreach { t =>
      lazy val u = s.read.parquet(segmentNames.map(g => s"$segRoot/$g/${t.name}"): _*)
      def summed(c: String): Column = sum(col(c)).cast(u.schema(c).dataType).as(c)
      val merged = t.compaction match {
        case Union(range, sort) =>
          u.repartitionByRange(range.map(col): _*).sortWithinPartitions(sort.map(col): _*)
        case WeightedSum(keys, w) => u.groupBy(keys.map(col): _*).agg(summed(w))
        case KeylessSum => u.agg(summed(u.columns.head), u.columns.toSeq.tail.map(summed): _*)
        case Carried => s.read.parquet(s"$modelRoot/${t.name}").coalesce(1)
      }
      merged.write.mode("overwrite").parquet(s"$out/${t.name}")
    }

  /** The family's retirement verdict over its shared segments and their
    * compaction: one [[segmentRetirementPlan]] block per gated table,
    * labeled by `tbl` (q_c133–q_c136).
    */
  def verdict(s: SparkSession, fam: Family, d: String): DataFrame = {
    val segPath = segments(s, fam, d)
    val cPath = compacted(s, fam, segPath)
    fam.gates.map { case (tbl, weight) =>
      segmentRetirementPlan(
        segmentNames.map(g => g -> s.read.parquet(s"$segPath/$g/$tbl")),
        s.read.parquet(s"$cPath/$tbl"), weight)
        .select(lit(tbl).as("tbl"), col("segment"), col("n_rows"),
          col("checksum_a"), col("checksum_b"), col("retire"))
    }.reduce(_ unionByName _)
      .orderBy(col("tbl"), col("segment"))
  }

  /** The retirement GC VERB — the action the q_c133-class verdict
    * certifies, family-general: `tables` names every gated table a
    * segment directory stores, with the optional weight column of the
    * weighted-digest shape ([[Family.gates]]) — a multi-table family's
    * tables live and die together. Recomputes the digest verdict over the given segment table paths
    * vs the compacted tables, and ONLY if EVERY (table × segment)
    * verdict fires (Σ segment digests ≡ compacted digest on both
    * 64-bit chunks AND rows conserve) deletes the segment directories;
    * otherwise every directory is kept — the gate can refuse
    * (RetirementGcSpec proves a tampered compaction keeps the
    * segments). Returns the journal rows (tbl, segment, n_rows,
    * checksum_a, checksum_b, retire, action) the caller persists as
    * the artifact's gc_log: the deletion decision stays auditable by
    * any engine after the segments are gone.
    */
  private[graft] def retirementGc(
      s: SparkSession,
      segments: Seq[(String, String)],
      compactedRoot: String,
      tables: Seq[(String, Option[String])])
      : Seq[(String, String, Long, Long, Long, Long, String)] = {
    val verdicts = tables.map { case (tbl, weight) =>
      tbl -> segmentRetirementPlan(
        segments.map { case (n, p) => n -> s.read.parquet(s"$p/$tbl") },
        s.read.parquet(s"$compactedRoot/$tbl"), weight)
        .collect()
    }
    // ALL tables of ALL segments must certify before ANY directory is
    // dropped: the compacted set replaces the whole segment set, so a
    // single failing (table, segment) means the compaction is not a
    // faithful union and nothing may go
    val retireAll =
      verdicts.forall(_._2.forall(_.getAs[Long]("retire") == 1L))
    if (retireAll) {
      val conf = s.sparkContext.hadoopConfiguration
      segments.foreach { case (_, p) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).delete(hp, true); ()
      }
    }
    verdicts.flatMap { case (tbl, verdict) =>
      verdict.toSeq.map { r =>
        val seg = r.getAs[String]("segment")
        val action =
          if (seg == "compacted") "kept"
          else if (retireAll) "dropped" else "kept"
        (tbl, seg, r.getAs[Long]("n_rows"), r.getAs[Long]("checksum_a"),
          r.getAs[Long]("checksum_b"), r.getAs[Long]("retire"), action)
      }
    }
  }

  /** Persist [[retirementGc]] journal rows as a GC artifact's gc_log. */
  private[graft] def writeGcLog(
      s: SparkSession,
      log: Seq[(String, String, Long, Long, Long, Long, String)],
      path: String): Unit = {
    val sp = s
    import sp.implicits._
    log.toDF("tbl", "segment", "n_rows", "checksum_a", "checksum_b",
        "retire", "action")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/gc_log")
  }

  private def liveSegments(s: SparkSession, path: String): Long = {
    val segDir = new org.apache.hadoop.fs.Path(s"$path/segments")
    val fs = segDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(segDir)) fs.listStatus(segDir).length.toLong else 0L
  }

  /** The GC proof-of-service tail shared by all four families' GC rows
    * (q_c141/q_c144/q_c145/q_c146): the family's search frame served
    * from the post-GC artifact, with the GC outcome on every row —
    * n_dropped re-counted from the journal (DISTINCT segments with a
    * dropped action — a multi-table family journals one row per table
    * but drops each directory once) and n_live_segments from the LIVE
    * directory listing, so a drop the engine claimed but did not
    * perform (or performed but did not journal) contradicts the frame.
    */
  private[graft] def gcServe(
      s: SparkSession, path: String, search: DataFrame): DataFrame = {
    val nDropped = s.read.parquet(s"$path/gc_log")
      .filter(col("action") === "dropped")
      .agg(countDistinct(col("segment")).cast("long").as("n_dropped"))
    search
      .crossJoin(broadcast(nDropped))
      .withColumn("n_live_segments", lit(liveSegments(s, path)))
  }

  /** One q_c148 audit row over a GC'd artifact's journal + live
    * directory listing.
    */
  private[graft] def gcAuditRow(
      s: SparkSession, fam: String, path: String): DataFrame =
    s.read.parquet(s"$path/gc_log").agg(
        countDistinct(col("tbl")).cast("long").as("n_tables"),
        count(lit(1)).cast("long").as("n_journal_rows"),
        countDistinct(when(col("action") === "dropped", col("segment")))
          .cast("long").as("n_dropped"),
        min(col("retire")).cast("long").as("all_certified"))
      .select(lit(fam).as("family"), col("n_tables"), col("n_journal_rows"),
        col("n_dropped"), col("all_certified"))
      .withColumn("n_live_segments", lit(liveSegments(s, path)))

  /** q_c133's verdict frame over any segment family: one digest row per
    * segment plus the compacted table's row, every row carrying the
    * atomic `retire` verdict (1 iff Σ segment digests == the compacted
    * digest on both 64-bit chunks AND row counts conserve). The
    * canonical row string pins column order, so schema drift between a
    * segment and the compacted table also breaks the digest (by
    * design — retiring segments whose reader would decode differently
    * is exactly the mistake this gate exists to catch).
    */
  private[graft] def segmentRetirementPlan(
      segments: Seq[(String, DataFrame)],
      compacted: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val M = "1152921504606846976" // 2^60
    def digestOf(name: String, df: DataFrame) = {
      // BINARY columns canonicalize through hex: concat_ws would cast
      // raw bytes to a (lossy) UTF-8 string, collapsing distinct codes
      // onto replacement characters — the int8-IVF q8 column is exactly
      // that shape. hex() is injective and engine-neutral. STRING
      // columns are length-prefixed (`<len>:<value>`) so the '|'-joined
      // row encoding stays injective even when a value CONTAINS '|'
      // (ADVICE round 16): the prefix makes the stream uniquely
      // decodable (read digits to ':', take len chars, expect '|'), so
      // adjacent-column content can never shift across the separator.
      // Numeric/hex renderings can't contain '|' and need no prefix —
      // and keeping them bare keeps the digest cheap and the DuckDB
      // replay one expression per column.
      val cols = df.schema.fields
        .filterNot(f => weightCol.contains(f.name))
        .sortBy(_.name).map { f =>
          f.dataType match {
            case org.apache.spark.sql.types.BinaryType => hex(col(f.name))
            case org.apache.spark.sql.types.StringType =>
              concat(length(col(f.name)).cast("string"), lit(":"), col(f.name))
            case _ => col(f.name)
          }
        }
      // WEIGHTED mode (weightCol set): digest = Σ chunk(key) · weight —
      // linear in the weight, so it is invariant under the aggregation
      // compaction applies to additive tables (Σ over segment rows of
      // chunk·cnt_i = Σ over compacted keys of chunk·Σcnt_i): the
      // retirement law for tables whose compaction SUMS rather than
      // unions (the phrase bigram table). n_rows then reports the total
      // weight (the conserved quantity) instead of the row count.
      // Unweighted mode is the wt = 1 special case and produces the
      // EXACT digests of the original formulation (Σ(c mod M) mod M =
      // Σc mod M — mod is additive).
      val wt = weightCol.map(c => col(c).cast("decimal(18,0)"))
        .getOrElse(lit(1).cast("decimal(18,0)"))
      df.select(md5(concat_ws("|", cols.toIndexedSeq: _*)).as("h"), wt.as("wt"))
        .select(PipelineQueries.md5ChunkA.as("c1"),
          PipelineQueries.md5ChunkB.as("c2"), col("wt"))
        .agg(sum(col("wt")).cast("long").as("n_rows"),
          expr(s"CAST(SUM(CAST(c1 % $M AS DECIMAL(20,0)) * wt) % $M AS BIGINT)")
            .as("checksum_a"),
          expr(s"CAST(SUM(CAST(c2 % $M AS DECIMAL(20,0)) * wt) % $M AS BIGINT)")
            .as("checksum_b"))
        .select(lit(name).as("segment"), col("n_rows"),
          col("checksum_a"), col("checksum_b"))
    }
    val segRows = segments.map { case (n, df) => digestOf(n, df) }
      .reduce(_ unionByName _)
    val compRow = digestOf("compacted", compacted)
    // Σ over the per-segment 60-bit digests, re-reduced mod 2^60 — the
    // additive law that makes the union provable without a row-level diff
    val segTotal = segRows.agg(
      sum(col("n_rows")).cast("long").as("u_rows"),
      expr(s"CAST(SUM(CAST(checksum_a AS DECIMAL(38,0))) % $M AS BIGINT)").as("u_a"),
      expr(s"CAST(SUM(CAST(checksum_b AS DECIMAL(38,0))) % $M AS BIGINT)").as("u_b"))
    val verdict = segTotal.crossJoin( // two 1-row frames
        compRow.select(col("n_rows").as("c_rows"),
          col("checksum_a").as("c_a"), col("checksum_b").as("c_b")))
      .select(when(col("u_rows") === col("c_rows")
        && col("u_a") === col("c_a") && col("u_b") === col("c_b"), 1L)
        .otherwise(0L).as("retire"))
    segRows.unionByName(compRow)
      .crossJoin(broadcast(verdict))
      .orderBy(col("segment"))
  }
}
