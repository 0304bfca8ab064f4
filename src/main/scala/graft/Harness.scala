package graft

import org.apache.spark.sql.SparkSession

/** The one session profile and the shared settings of graft's harness
  * mains (`Bench`, `Verify`, `Prof`, `Explain`, `ExtensionsCheck`) and of
  * the spec suite, so the configuration that is timed is the one that is
  * checked for correctness and planned for the exchange pins.
  *
  * The profile is constant apart from the core count:
  *  - UTC session time zone and no UI;
  *  - a codegen cache that holds the whole board (the default 100 entries
  *    evict between a warm-up and a timed pass, so simple queries re-pay
  *    janino compilation inside the measurement: the r3 q02/q03
  *    "regression", 0.18 → 1.27 s on unchanged code);
  *  - 1 MB scan splits: each testdata table is one small parquet file, so
  *    the default 128 MB splits plan every scan as a single task. On a
  *    real cluster (files much larger than splits) the default is right;
  *    this is harness sizing, not an operator setting;
  *  - `shuffle.partitions` = cores;
  *  - a temporary warehouse per JVM, deleted at exit: `saveAsTable`
  *    leaves table directories behind, and the next JVM's empty catalog
  *    cannot drop them, so its write would fail with
  *    LOCATION_ALREADY_EXISTS.
  *
  * `cores` is the only parameter: the spec suite and `Explain` plan at 4
  * cores (the PlanAuditSpec pins and the committed plan texts carry
  * `hashpartitioning(…, 4)`), the other mains run at [[cores]]. */
object Harness {
  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.getAbsolutePath
  }

  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.sql.files.maxPartitionBytes", "1m")
    .config("spark.sql.warehouse.dir", warehouse)

  def session(cores: Int): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `SPARK_GRAFT_CPUS`, else every processor this JVM may use. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map { v =>
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive core count, got '$v'"))
  }.getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_SF_DIR`, else `default`. */
  def sfDir(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** The queries a main runs: the names in `args` if any, else those in
    * `SPARK_GRAFT_QUERIES`, else every query (sorted). Each argument may
    * itself be a comma-separated list. An unknown name is an error, never
    * a silently smaller run. */
  def select(args: Seq[String],
      env: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES")): Seq[String] = {
    def names(s: Seq[String]) = s.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val asked = Some(names(args)).filter(_.nonEmpty)
      .orElse(env.map(e => names(Seq(e))).filter(_.nonEmpty))
    asked match {
      case None => SparkEntry.queries.keys.toSeq.sorted
      case Some(qs) =>
        val unknown = qs.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
        qs.distinct
    }
  }
}
