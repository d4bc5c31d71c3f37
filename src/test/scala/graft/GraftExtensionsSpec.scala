package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** SQL-surface registration of the custom codegen expressions: a
  * `spark.sql` user gets the same kernels the DataFrame API uses.
  */
class GraftExtensionsSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = {
    val s = SparkTestBase.spark
    GraftExtensions.install(s)
    s
  }

  "GraftExtensions" should "expose rolling_hash to spark.sql" in {
    val h = spark.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
    val expect = "abc".getBytes("UTF-8")
      .foldLeft(0L)((acc, b) => (acc * 31L + (b & 0xffL)) % 1000000007L)
    h shouldBe expect
    spark.sql("SELECT rolling_hash(NULL) AS h").collect().head.isNullAt(0) shouldBe true
  }

  it should "expose float_vec_dot to spark.sql" in {
    val d = spark.sql(
      "SELECT float_vec_dot(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(4 AS FLOAT), CAST(0.5 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    d shouldBe 7.0
  }

  it should "expose simple_pattern to spark.sql (literal patterns only)" in {
    val rows = spark.sql(
      "SELECT simple_pattern(x, '^c[0-9]+$') FROM VALUES ('c42'), ('x42'), (NULL) AS t(x)")
      .collect()
    rows(0).getBoolean(0) shouldBe true
    rows(1).getBoolean(0) shouldBe false
    rows(2).isNullAt(0) shouldBe true
    // unsupported pattern shapes are rejected loudly, not silently slow
    val e1 = intercept[Exception](
      spark.sql("SELECT simple_pattern('a', 'no-anchors')").collect())
    e1.getMessage should include("not supported")
    val e2 = intercept[Exception](
      spark.sql("SELECT simple_pattern('a', upper('^a$'))").collect())
    e2.getMessage should include("literal")
  }

  it should "reject wrong arity with a clear error" in {
    val e = intercept[Exception](spark.sql("SELECT rolling_hash('a', 'b')").collect())
    e.getMessage should include("argument")
  }

  it should "expose regex_compiles and json_render to spark.sql" in {
    val r = spark.sql(
      "SELECT regex_compiles(x) FROM VALUES ('a+b'), ('*dangling'), (NULL) AS t(x)").collect()
    r(0).getBoolean(0) shouldBe true
    r(1).getBoolean(0) shouldBe false
    r(2).isNullAt(0) shouldBe true
    spark.sql("SELECT json_render(named_struct('a', 'x\"y', 'b', CAST(NULL AS STRING)))")
      .collect().head.getString(0) shouldBe """{"a":"x\"y"}"""
    // unsupported type -> clear analysis error, not silent wrong output
    an[Exception] should be thrownBy
      spark.sql("SELECT json_render(named_struct('t', current_timestamp()))").collect()
  }

  it should "expose the int8 quantization kernels to spark.sql" in {
    val r = spark.sql(
      """SELECT float_vec_max_abs(v) AS m, quantize_int8(v) AS q
        |FROM VALUES (array(CAST(-2 AS FLOAT), CAST(1 AS FLOAT), CAST(NULL AS FLOAT))),
        |            (array(CAST(0 AS FLOAT))),
        |            (CAST(NULL AS ARRAY<FLOAT>)) AS t(v)""".stripMargin).collect()
    r(0).getFloat(0) shouldBe 2.0f
    r(0).getSeq[Any](1) shouldBe Seq(-127.toByte, 64.toByte, null)
    r(1).getFloat(0) shouldBe 0.0f
    r(1).getSeq[Any](1) shouldBe Seq(0.toByte) // degenerate scale branch
    r(2).isNullAt(0) shouldBe true
    r(2).isNullAt(1) shouldBe true
  }

  it should "expose word_ngrams and minhash_signature to spark.sql (positive literal sizes)" in {
    val r = spark.sql(
      """SELECT word_ngrams(t, 2) AS g, minhash_signature(word_ngrams(t, 2), 3) AS m
        |FROM VALUES (array('a', 'b', 'c')), (array('solo')), (CAST(NULL AS ARRAY<STRING>)) AS v(t)
        |""".stripMargin).collect()
    r(0).getSeq[String](0) shouldBe Seq("a b", "b c")
    r(1).getSeq[String](0) shouldBe Seq("solo") // fewer than n tokens: the whole sequence
    r(2).isNullAt(0) shouldBe true
    r(2).isNullAt(1) shouldBe true
    // element i is min over shingles of xxhash64(s, i), the batch signature
    val want = spark.sql(
      "SELECT array(least(xxhash64('a b', 0), xxhash64('b c', 0)), " +
        "least(xxhash64('a b', 1), xxhash64('b c', 1)), least(xxhash64('a b', 2), xxhash64('b c', 2)))")
      .collect().head.getSeq[Long](0)
    r(0).getSeq[Long](1) shouldBe want
    spark.sql("SELECT minhash_signature(CAST(array() AS ARRAY<STRING>), 4)").collect().head.isNullAt(0) shouldBe true
    for (bad <- Seq("word_ngrams(array('a'), 0)", "word_ngrams(array('a'), CAST(2 AS BIGINT))",
      "minhash_signature(array('a'), length('ab'))", "minhash_signature(array('a'), -1)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $bad").collect())
      withClue(bad)(e.getMessage should include("positive integer literal"))
    }
  }

  it should "apply the same registrations through the extensions class" in {
    // the config route (spark.sql.extensions) drives this same instance;
    // verify the injector enumerates every registration without error
    val captured = scala.collection.mutable.Buffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext) // must not throw
    GraftExtensions.registrations.map(_._1.funcName) should contain allOf
      ("rolling_hash", "float_vec_dot", "word_ngrams", "minhash_signature")
    captured // (silence unused warning pattern)
    succeed
  }
}
