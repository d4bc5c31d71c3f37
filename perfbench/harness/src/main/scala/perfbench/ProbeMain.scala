package perfbench

import org.apache.spark.sql.SparkSession
import graft.compile.TableSchemaCompiler
import graft.exprs.ConstraintCompiler

/** Spans around the two layers that run no Spark job, in a fresh JVM, in
  * the order the CLI reaches them:
  *
  *   ProbeMain <schema.json> <tableDir> <out.json>
  *
  * `compile_ms`: `TableSchemaCompiler.compileString` on the schema file,
  * before any Spark session exists (as in the CLI). `bind_ms`:
  * `ConstraintCompiler.bindReport` plus `ConstraintCompiler.compile` against
  * the table's physical schema. Both are first calls, so they include the
  * class loading every CLI invocation pays.
  */
object ProbeMain {

  def main(args: Array[String]): Unit = {
    val Array(schemaPath, tableDir, outPath) = args
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(schemaPath))
    val t0 = System.nanoTime()
    val schema = TableSchemaCompiler.compileString(json).fold(e => sys.error(e), identity)
    val compileMs = (System.nanoTime() - t0) / 1e6

    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dfSchema = spark.read.parquet(tableDir).schema
      val t1 = System.nanoTime()
      ConstraintCompiler.bindReport(schema, dfSchema)
      val checks = ConstraintCompiler.compile(schema, dfSchema).fold(e => sys.error(e), identity)
      val bindMs = (System.nanoTime() - t1) / 1e6
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        s"""{"compile_ms":$compileMs,"bind_ms":$bindMs,"checks":${checks.size}}""")
    } finally spark.stop()
  }
}
