package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StoredIndex

/** Property coverage for the retirement-digest laws on RANDOM multisets
  * (seeded — the GeometrySpec style): for arbitrary row multisets split
  * arbitrarily into segments,
  *
  *   - row mode retires iff the compacted table is the EXACT multiset
  *     union (any drop / extra copy / in-place edit flips it);
  *   - weighted mode retires iff per-key weights conserve through the
  *     aggregation (it is invariant to HOW rows are grouped, and a
  *     single bumped weight flips it).
  *
  * Duplicates are deliberate in the generator: SUM-digest multiplicity
  * (the not-XOR design point) is exactly what a random multiset
  * exercises and a set-shaped fixture would not.
  */
class RetirementPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-retireprop-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def df(rows: Seq[(String, Long, Long)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "v", "w")
  }

  private def verdict(segs: Seq[Seq[(String, Long, Long)]],
                      comp: Seq[(String, Long, Long)],
                      weighted: Boolean): Long =
    StoredIndex.segmentRetirementPlan(
        segs.zipWithIndex.map { case (s0, i) => (s"seg$i", df(s0)) },
        df(comp), if (weighted) Some("w") else None)
      .select(col("retire")).head().getLong(0)

  test("random multisets: union law (row mode) and conservation law (weighted mode)") {
    val rnd = new scala.util.Random(133L)
    for (trial <- 1 to 5) {
      // duplicate-heavy multiset over a small key alphabet
      val rows = Seq.fill(30 + rnd.nextInt(40))(
        (s"k${rnd.nextInt(8)}", rnd.nextInt(5).toLong, 1L + rnd.nextInt(9)))
      val nSeg = 1 + rnd.nextInt(3)
      val segs0 = rows.groupBy(_ => rnd.nextInt(nSeg)).values.toSeq
      val segs = if (segs0.size < nSeg) segs0 else segs0 // whatever split fell out
      // exact union retires
      assert(verdict(segs, rows, weighted = false) == 1L, s"trial $trial: union")
      // drop one row / add an extra copy / edit one value — each blocks
      assert(verdict(segs, rows.tail, weighted = false) == 0L, s"trial $trial: drop")
      assert(verdict(segs, rows :+ rows.head, weighted = false) == 0L,
        s"trial $trial: extra copy (multiplicity must count)")
      val edited = rows.updated(0, rows.head.copy(_2 = rows.head._2 + 100L))
      assert(verdict(segs, edited, weighted = false) == 0L, s"trial $trial: edit")
      // weighted law: aggregate by (k, v) with summed w — retires no
      // matter how the rows were grouped into segments
      val agg = rows.groupBy(r => (r._1, r._2)).toSeq
        .map { case ((k, v), g) => (k, v, g.map(_._3).sum) }
      assert(verdict(segs, agg, weighted = true) == 1L, s"trial $trial: aggregate")
      // a single bumped weight blocks it
      val bumped = agg.updated(0, agg.head.copy(_3 = agg.head._3 + 1L))
      assert(verdict(segs, bumped, weighted = true) == 0L, s"trial $trial: bump")
    }
  }

  test("string encoding is injective: a '|' in content cannot shift across columns") {
    // ADVICE round 16: with bare '|'-joined strings, ("a|b", "c") and
    // ("a", "b|c") hash to the same canonical row — content crossing
    // the separator without moving the digest. The length prefix makes
    // the encoding uniquely decodable, so these MUST NOT retire.
    val sp = spark
    import sp.implicits._
    def two(rows: Seq[(String, String)]) = rows.toDF("s1", "s2")
    val seg = Seq("seg0" -> two(Seq(("a|b", "c"))))
    assert(StoredIndex.segmentRetirementPlan(seg, two(Seq(("a", "b|c"))))
      .select(col("retire")).head().getLong(0) == 0L,
      "separator-shifted rows must break the digest")
    // and the honest case still retires
    assert(StoredIndex.segmentRetirementPlan(seg, two(Seq(("a|b", "c"))))
      .select(col("retire")).head().getLong(0) == 1L)
  }
}
