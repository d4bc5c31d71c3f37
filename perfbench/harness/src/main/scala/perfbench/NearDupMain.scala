package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** Times `Dedup.nearDupSurvivors(k = 24, bands = 12, threshold = 0.5)` in
  * process:
  *
  *   NearDupMain <corpusDir> <out.json> <seconds> <trace 0|1>
  *
  * Set-up is the SparkSession open plus reading and caching the corpus.
  * Two untimed warm-up calls follow: the JVM's JIT keeps speeding calls up
  * for many calls, and a fixed warm-up puts every run at the same point of
  * that curve. Untraced, it then calls the operator back to back until
  * `seconds` have passed (at least twice), each call timed from call
  * to counted result; the result's count, sum(doc_id) and sum(doc_id^2) go
  * to the oracle. Between calls, untimed, it records the blocks a call left
  * persisted, frees them and collects the heap, so every call starts from
  * the same state.
  *
  * Traced, it makes one call under a [[TraceListener]] and records the
  * call's start and end (epoch ms) beside the listener's spans, so the call
  * can be split by the `Dedup` function that launched each Spark execution.
  * It then counts, untimed, the pairs `Dedup.minhashPairs` verifies at the
  * same parameters.
  */
object NearDupMain {

  private def call(df: DataFrame): DataFrame =
    Dedup.nearDupSurvivors(df, k = 24, bands = 12, threshold = 0.5)

  private def fingerprint(survivors: DataFrame): (Long, Long, Long) = {
    val r = survivors.agg(count(lit(1)), sum(col("doc_id")), sum(col("doc_id") * col("doc_id"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Blocks persisted beyond the cached input, in MB; when `free`, they are
    * unpersisted and the heap collected, so the next call starts clean. */
  private def heldMb(spark: SparkSession, keepId: Int, free: Boolean): Double = {
    val sc = spark.sparkContext
    val extra = sc.getPersistentRDDs.filter { case (id, _) => id != keepId }
    val ids = extra.keySet
    val bytes = sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum
    if (free) {
      extra.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    bytes / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outPath, seconds, trace) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench-neardup")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val df = spark.read.parquet(inDir).cache()
      val rows = df.count()
      val inputId = spark.sparkContext.getPersistentRDDs.keys.head
      val setup = secs(t0)
      // untimed warm-up calls: class loading, codegen and JIT settle before
      // timing (their results are still checked)
      val warm = (1 to 2).map { _ =>
        val tw = System.nanoTime()
        val (wn, ws, ws2) = fingerprint(call(df))
        heldMb(spark, inputId, free = true)
        s"""{"wall_s":${secs(tw)},"count":$wn,"sum":$ws,"sumsq":$ws2}"""
      }
      val out = new StringBuilder(
        s"""{"setup_s":$setup,"rows":$rows,"warmup":${warm.mkString("[", ",", "]")},""")
      if (trace == "0") {
        val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
        val calls = scala.collection.mutable.ArrayBuffer.empty[String]
        do {
          val t = System.nanoTime()
          val (n, s, s2) = fingerprint(call(df))
          val wall = secs(t)
          val held = heldMb(spark, inputId, free = true)
          calls += s"""{"wall_s":$wall,"count":$n,"sum":$s,"sumsq":$s2,"held_mb":$held}"""
        } while (calls.size < 2 || System.nanoTime() < deadline)
        out ++= calls.mkString(""""calls":[""", ",", "]")
      } else {
        val codegenBefore = TraceListener.codegenMs() / 1000.0
        val listener = new TraceListener("pipeline", Map.empty)
        spark.sparkContext.addSparkListener(listener)
        val startMs = System.currentTimeMillis()
        val t = System.nanoTime()
        val (n, s, s2) = fingerprint(call(df))
        val wall = secs(t)
        val endMs = System.currentTimeMillis()
        listener.awaitQuiet()
        val summary = listener.summaryJson
        val held = heldMb(spark, inputId, free = true)
        spark.sparkContext.removeSparkListener(listener)
        val verified = Dedup.minhashPairs(df, k = 24, bands = 12, threshold = 0.5).count()
        heldMb(spark, inputId, free = true)
        out ++= s""""calls":[{"wall_s":$wall,"count":$n,"sum":$s,"sumsq":$s2,"held_mb":$held}],""" +
          s""""trace":$summary,"codegen_before_s":$codegenBefore,""" +
          s""""call_ms":[$startMs,$endMs],"verified_pairs":$verified"""
      }
      out ++= "}"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), out.toString)
    } finally spark.stop()
  }
}
