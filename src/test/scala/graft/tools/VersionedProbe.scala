package graft.tools

import org.apache.spark.sql.types.{IntegerType, StringType, StructField}

/** Dev-only: isolate readVersion construction cost at N partitions
  * (default 1000). `sbt "Test/runMain graft.tools.VersionedProbe [N]"`. */
object VersionedProbe {
  def main(args: Array[String]): Unit = {
    val nParts = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = Harness.session("ERROR")
    import org.apache.spark.sql.functions.col

    def build(tag: String): String = {
      val t = java.nio.file.Files.createTempDirectory(s"vprobe$tag").toString + "/t"
      val wide = spark.range(0, nParts).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "format_string('p%05d', id) AS part")
      val tw0 = System.nanoTime()
      graft.store.Versioned.commit(spark, t, wide, "part", Nil)
      println(f"[$tag] commit: ${(System.nanoTime() - tw0) / 1e9}%.1f s")
      t
    }

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // Table A: first read via the NEW explicit-schema path, step by step
    val ta = build("A")
    val manifest = timed("readManifest") {
      graft.store.Versioned.readManifest(spark, ta, 1) -
        graft.store.Versioned.CommitDvKey }
    val dirs = manifest.toSeq.sortBy(_._1)
      .map { case (part, dv) => s"$ta/data/$part/__dv=$dv" }
    val fileSchema = timed("schema-probe (1 dir)") {
      spark.read.parquet(dirs.head).schema }
    val full = fileSchema
      .add(StructField("part", StringType, nullable = false))
      .add(StructField("__dv", IntegerType, nullable = false))
    val dfa = timed("big read w/ explicit schema") {
      spark.read.schema(full).option("basePath", s"$ta/data").parquet(dirs: _*)
        .drop("__dv") }
    timed("count") { dfa.count() }

    // Table B: first read via the OLD inference path
    val tb = build("B")
    val manifestB = timed("readManifest") {
      graft.store.Versioned.readManifest(spark, tb, 1) -
        graft.store.Versioned.CommitDvKey }
    val dirsB = manifestB.toSeq.sortBy(_._1)
      .map { case (part, dv) => s"$tb/data/$part/__dv=$dv" }
    val dfb = timed("big read w/ inference") {
      spark.read.option("basePath", s"$tb/data").parquet(dirsB: _*).drop("__dv") }
    timed("count") { dfb.count() }
    dfb.schema("part").dataType.toString.foreach(print); println()
    spark.stop()
  }
}
