package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder: every main, probe and the test
  * fixture open their session here, so a timing or a test run always
  * states its core count the same way.
  *
  * Core count: `SPARK_GRAFT_CPUS` (default: the JVM's available
  * processors), used for both `local[n]` and the shuffle partitions.
  * `SPARK_GRAFT_CONF="k=v;k2=v2"` layers ad-hoc confs over the posture
  * (A/B probes). The native functions are registered on the session.
  */
object LocalSession {

  /** How the session reaches the local filesystem. */
  sealed trait Posture

  /** Spark's checksummed local filesystem and planner thresholds: the
    * correctness runs (Verify, Smoke, the test suite) and data generation.
    */
  case object Default extends Posture

  /** Timing runs (Bench, ProfileQuery, PlanDump, probes). Local runs skip
    * Hadoop's client-side CRC shadow files: the checksummed
    * LocalFileSystem doubles every create/rename/delete (data file +
    * .crc twin), and with no native hadoop lib each extra permission
    * touch is a fork/exec'd `chmod`, a fixed cost per staged file,
    * checkpoint entry and commit-log write (parquet carries its own page
    * checksums; the commit log publishes content-complete files
    * atomically). Production deployments pick the FS by scheme
    * (HDFS/S3A), where this conf is inert. The 64 MB broadcast threshold
    * is the planning posture the bench numbers were taken under.
    */
  case object Timed extends Posture

  def apply(posture: Posture): SparkSession = {
    val n = cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val postureConf = posture match {
      case Default => Nil
      case Timed => Seq(
        "spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
        "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString)
    }
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
      }
    val spark = (postureConf ++ extraConf).foldLeft(SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Core count from the raw `SPARK_GRAFT_CPUS` value; unset means all
    * available processors, anything but a positive integer is an error.
    */
  def cpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }
}
