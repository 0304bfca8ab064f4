package graft

/** End-to-end check of the production extension path: a fresh session
  * built with `.withExtensions(new GraftExtensions)` must resolve graft's
  * SQL functions. Run in its own JVM (`runMain graft.ExtensionsCheck`) so
  * no previously-created session can mask a broken registration. */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = Harness.builder(2).withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val viaSql = spark.sql("SELECT rolling_hash('graft') AS h").head().getLong(0)
    val direct = functions.RollingHash.hashBytes("graft".getBytes("UTF-8"))
    assert(viaSql == direct, s"extension registration broken: $viaSql != $direct")
    val viaExpr = spark.range(1).selectExpr("rolling_hash('graft') AS h").head().getLong(0)
    assert(viaExpr == direct)
    val dot = spark.sql(
      "SELECT dot_f(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d").head().getDouble(0)
    assert(dot == 1.5 * 3.0 + 2.0 * 0.5, s"dot_f registration broken: $dot")
    val cdc = spark.sql("SELECT cdc_chunks('graft graft graft graft') AS c")
      .head().getSeq[Int](0)
    val cdcDirect = functions.CdcChunks
      .chunkLengths("graft graft graft graft".getBytes("UTF-8")).toSeq
    assert(cdc == cdcDirect, s"cdc_chunks registration broken: $cdc != $cdcDirect")
    println(s"OK rolling_hash('graft') = $viaSql, dot_f = $dot, cdc_chunks = $cdc")
    spark.stop()
  }
}
