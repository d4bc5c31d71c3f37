package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import graft.pipeline.Dedup

/** [[WordNGrams]] and [[MinHashSignature]] must be EXACTLY the
  * higher-order-function and explode+aggregate forms they replaced in
  * the near-dup pipeline. The old forms are kept here as the oracles and
  * compared value for value, under a property fuzz (scalacheck generators
  * driven explicitly, the FormatMatchersSpec pattern) over every `\s`
  * whitespace class, non-`\s` separators, special case mappings,
  * multibyte text, empty and null documents, for n = 1..5 — on the
  * codegen path (a Spark job over an RDD scan) and on interpreted `eval`.
  */
class ShingleKernelsSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  /** The n-gram form `Dedup.shingles` used before the kernel: zip the
    * tokens with their i-shifted slices, then drop the null-padded tail. */
  private def hofGrams(toks: Column, n: Int): Column = {
    def size(c: Column) = org.apache.spark.sql.functions.size(c) // not the matcher word
    val grams = (1 until n).foldLeft(toks) { (acc, i) =>
      val shifted = slice(toks, lit(i + 1), greatest(size(toks) - i, lit(0)))
      zip_with(acc, shifted, (a, b) =>
        when(a.isNull || b.isNull, lit(null)).otherwise(concat(a, lit(" "), b)))
    }
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(filter(grams, g => g.isNotNull))
  }

  private def hofShingles(text: Column, n: Int): Column =
    hofGrams(split(trim(lower(text)), "\\s+"), n)

  /** The signature table `Dedup.minhashSigTable` built before the kernel. */
  private def explodeSigTable(df: DataFrame, k: Int, n: Int): DataFrame =
    df.select(col("doc_id").as("id"), explode(hofShingles(col("text"), n)).as("s"))
      .groupBy("id")
      .agg(min(xxhash64(col("s"), lit(0))).as("m0"),
        (1 until k).map(seed => min(xxhash64(col("s"), lit(seed))).as(s"m$seed")): _*)

  private val goldens: Seq[String] = Seq(
    null, "", " ", "   ", "one", "One Two", "one two three", "a b c d e f g",
    "  padded   whitespace  text here ", "\tTabbed\tTEXT\t", "\u000bvt\u000bsep",
    "form\ffeed\f", "\nleading newline", "trailing newline\n", "\r\ncrlf\r\nlines\r\n",
    "nbsp\u00a0is\u00a0not\u00a0\\s", "ideographic\u3000space", "line\u2028separator",
    "ΣΑΣ ΟΔΟΣ", "İstanbul İİ", "STRASSE ẞ", "漢字 かな 한글", "emoji 😀 😀 x",
    "MiXeD Case TOKENS again and again and again")

  private val alphabet = Seq("a", "B", "z", "Ω", "Σ", "İ", "ẞ", "漢", "😀", "é",
    " ", " ", "  ", "\t", "\n", "\r", "\u000b", "\f", "\u00a0", "\u3000", "\u2028", "\u0085")

  private def fuzzed(count: Int, seed0: Long): Seq[String] = {
    val gen = for {
      n <- org.scalacheck.Gen.chooseNum(0, 14)
      parts <- org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.oneOf(alphabet))
    } yield parts.mkString
    val params = org.scalacheck.Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(seed0)
    (1 to count).map { _ =>
      val s = gen.apply(params, seed).getOrElse("")
      seed = seed.next
      s
    }
  }

  private def textDf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    // an RDD scan, not a LocalRelation: the optimizer would otherwise
    // evaluate the projection while optimizing instead of running generated code
    spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 4)
      .toDF("doc_id", "text")
  }

  private def seqOf(r: Row, i: Int): Seq[String] =
    if (r.isNullAt(i)) null else r.getSeq[String](i).toSeq

  private def esc(s: String): String =
    if (s == null) "null" else s.map(c => f"\\u$c%04x").mkString

  behavior of "WordNGrams"

  it should "equal the zip_with/slice/filter shingles on goldens and fuzz, n = 1..5" in {
    val texts = goldens ++ fuzzed(1500, 20261017L)
    val df = textDf(texts)
    for (n <- 1 to 5) {
      val rows = df.select(col("text"), Dedup.shingles(col("text"), n), hofShingles(col("text"), n))
        .collect()
      rows.length shouldBe texts.length
      rows.foreach { r =>
        withClue(s"n=$n text=${esc(r.getString(0))}: ")(seqOf(r, 1) shouldBe seqOf(r, 2))
      }
    }
  }

  it should "equal the HOF tail on token arrays with null elements, codegen and interpreted" in {
    import spark.implicits._
    val arrays: Seq[Seq[String]] = Seq(null, Seq(), Seq(null), Seq("a"), Seq("a", null),
      Seq(null, "a", "b"), Seq("a", "b", null, "c", "d", "e"), Seq("a", null, "b", null, "c"),
      Seq("", "", "x"), Seq("p", "q", "r", "s", null), Seq(null, null, null, null, null, "z"))
    val df = spark.sparkContext.parallelize(arrays.map(Tuple1(_)), 3).toDF("t")
    for (n <- 1 to 5) {
      val rows = df.select(col("t"), WordNGrams(col("t"), n), hofGrams(col("t"), n)).collect()
      rows.foreach { r =>
        val toks = seqOf(r, 0)
        withClue(s"n=$n tokens=$toks: ") {
          seqOf(r, 1) shouldBe seqOf(r, 2)
          val lit = Literal.create(toks, ArrayType(StringType))
          val interp = WordNGrams(lit, n).eval()
          val got = if (interp == null) null
            else interp.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toSeq[org.apache.spark.unsafe.types.UTF8String](StringType).map(_.toString)
          got shouldBe seqOf(r, 2)
        }
      }
    }
  }

  behavior of "MinHashSignature"

  it should "equal min(xxhash64(s, i)) per element, incl. null elements and empty arrays" in {
    import spark.implicits._
    val k = 7
    val arrays: Seq[Seq[String]] = Seq(null, Seq(), Seq(null), Seq("a"), Seq("a", "a"),
      Seq("a", null, "b"), Seq("漢字", "😀", ""), Seq("x y z", "y z w", "z w v"))
    val df = spark.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) => (i, a) }, 3)
      .toDF("row", "arr")
    val oracle = df.select(col("row"), explode(col("arr")).as("s"))
      .groupBy("row")
      .agg(array((0 until k).map(i => min(xxhash64(col("s"), lit(i)))): _*).as("want"))
    val rows = df.select(col("row"), MinHashSignature(col("arr"), k).as("got"))
      .join(oracle, Seq("row"), "left")
      .collect()
    rows.length shouldBe arrays.length
    rows.foreach { r =>
      withClue(s"row ${arrays(r.getInt(0))}: ") {
        val got = if (r.isNullAt(1)) null else r.getSeq[Long](1).toSeq
        val want = if (r.isNullAt(2)) null else r.getSeq[Long](2).toSeq
        got shouldBe want
        val interp = MinHashSignature(Literal.create(arrays(r.getInt(0)), ArrayType(StringType)), k).eval()
        val interpSeq = if (interp == null) null
          else interp.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
        interpSeq shouldBe want
      }
    }
  }

  "Dedup.minhashSigTable" should "equal the explode + min(xxhash64) table, incl. duplicate ids" in {
    import spark.implicits._
    val texts = goldens ++ fuzzed(400, 7L)
    // ids collide in threes, so groups merge several documents' shingles;
    // plus a one-token document, a null text sharing an id with a real
    // one, and an id whose only text is null (no row, as before)
    val docs = spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => ((i / 3).toLong, t) } ++
        Seq((100000L, "solo"), (100001L, null: String), (100001L, "Partner Of A Null"),
          (100002L, null: String)), 4)
      .toDF("doc_id", "text")
    for ((k, n) <- Seq((24, 3), (4, 1), (16, 5))) {
      val want = explodeSigTable(docs, k, n)
      val got = Dedup.minhashSigTable(docs, "text", "doc_id", k, n)
      got.columns.toSeq shouldBe want.columns.toSeq
      def rows(df: DataFrame) =
        df.collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
      val g = rows(got)
      g shouldBe rows(want)
      g.keySet should contain allOf (100000L, 100001L)
      g.keySet should not contain 100002L
    }
  }
}
