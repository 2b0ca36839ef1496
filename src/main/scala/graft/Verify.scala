package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Decimal-output lint (the q304 trap): a DecimalType column
    * hash-mismatches the driver's compare because DuckDB's decimal
    * string repr ("1.50") differs from pandas' Decimal repr — the
    * documented rule is cast to DOUBLE on BOTH engine sides. Throws
    * at dump time so a new decimal operator fails fast with the rule
    * in the message instead of as a puzzling hash mismatch in the
    * round artifact. */
  def lintNoDecimalOutput(name: String, out: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    // Recurses: a DecimalType buried inside a struct/array/map column
    // produces the SAME cross-engine string-repr mismatch as a
    // top-level one, just harder to spot in the round artifact.
    def hasDecimal(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
      case a: ArrayType => hasDecimal(a.elementType)
      case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    val decimalCols = out.schema.fields.collect {
      case f if hasDecimal(f.dataType) => f.name
    }
    if (decimalCols.nonEmpty) throw new IllegalStateException(
      s"$name: DecimalType output column(s) ${decimalCols.mkString(", ")} — " +
        "decimal string reprs differ between DuckDB and pandas and " +
        "WILL hash-mismatch; cast to DOUBLE in both the query and " +
        "its oracle SQL (see q304)")
  }

  /** Complex-type output lint (the q354/q357 trap, round-18 verdict):
    * the driver's canonicalizer sorts result rows by RAW cell values,
    * and pandas' sort_values crashes on array/map/struct cells
    * ("unhashable type: numpy.ndarray") — the query ERRs in the hard
    * signal even though engines agree. The documented rule is the q05
    * pairText device: serialize complex columns to text in BOTH the
    * registry entry and the oracle SQL (array_join / array_to_string),
    * keeping the operator's raw output for the suite and downstream
    * callers. Throws at dump time; RegistrySchemaLintSpec pins the
    * same rule at build time. */
  def lintNoComplexOutput(name: String, out: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    val complexCols = out.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => f.name
    }
    if (complexCols.nonEmpty) throw new IllegalStateException(
      s"$name: complex-typed output column(s) ${complexCols.mkString(", ")} — " +
        "the driver's canonicalizer crashes sorting array/map/struct " +
        "cells; serialize to text in the registry entry AND the oracle " +
        "SQL (the q05 pairText device, see q354)")
  }
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: run only the named queries (exact names or
    // short keys, for dev iteration).
    val names = tools.Harness.select(args.drop(2).toSeq)
    val spark = tools.Harness.session("WARN")
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    names.foreach { name =>
      try {
        val out = queries(name)(spark, sfDir)
        lintNoDecimalOutput(name, out)
        lintNoComplexOutput(name, out)
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
