package etlbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One run's private directories. Every run starts from empty Spark local,
  * checkpoint, warehouse and output directories and deletes them at the end,
  * so runs share no disk state.
  */
final case class RunDirs(root: String) {
  val local: String = s"$root/spark-local"
  val checkpoints: String = s"$root/checkpoints"
  val warehouse: String = s"$root/warehouse"
  val out: String = s"$root/out"

  def create(): RunDirs = {
    Seq(local, checkpoints, warehouse, out).foreach(p => new File(p).mkdirs())
    this
  }

  def delete(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
}

/** The benchmark's Spark session, held to graft.Bench's settings. */
object BenchSession {

  /** The two AQE confs graft.Bench sets, with the values it sets. */
  val BenchConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k")

  def start(cores: Int, dirs: RunDirs): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("etlbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dirs.local)
      .config("spark.sql.warehouse.dir", dirs.warehouse)
    BenchConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(dirs.checkpoints)
    spark
  }

  /** The AQE confs and the shuffle-partition count as the live session
    * reports them. Throws when any differs from what graft.Bench runs
    * with, including Bench's own environment override of the partition
    * floor, so a benchmark number never comes from a drifted session.
    */
  def parity(spark: SparkSession, cores: Int): Seq[(String, String)] = {
    val want = BenchConfs :+ ("spark.sql.shuffle.partitions" -> cores.toString)
    val got = want.map { case (k, _) => k -> spark.conf.get(k) }
    val drift = want.zip(got).collect {
      case ((k, w), (_, g)) if w != g => s"$k=$g where graft.Bench runs $w"
    } ++ sys.env.get("SPARK_GRAFT_MIN_PARTITION").filter(_ != "256k")
      .map(v => s"SPARK_GRAFT_MIN_PARTITION=$v moves graft.Bench off 256k")
    require(drift.isEmpty, s"session differs from graft.Bench: ${drift.mkString("; ")}")
    got
  }
}
