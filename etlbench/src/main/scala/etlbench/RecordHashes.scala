package etlbench

import java.io.File

import graft.SparkEntry

/** Prints the expected-hash file for the query workloads: one
  * `name<TAB>sha256` line per query, over the benchmark's fixtures.
  * Run it at a commit whose results the DuckDB oracle has confirmed:
  *
  *   java -cp <classpath> etlbench.RecordHashes <bench dir> > expected/sf0.01.tsv
  */
object RecordHashes {
  def main(args: Array[String]): Unit = {
    val benchDir = args(0)
    val cores = Runtime.getRuntime.availableProcessors
    val dirs = RunDirs(s"$benchDir/.work/record-${System.currentTimeMillis}").create()
    val spark = BenchSession.start(cores, dirs)
    BenchSession.parity(spark, cores)
    try
      for (q <- Workloads.DedupGraph) {
        val df = SparkEntry.queries(q)(spark, new File(s"$benchDir/fixtures/sf0.01").getAbsolutePath)
        println(s"$q\t${ResultHash.of(df.schema, df.collect())}")
      }
    finally {
      spark.stop()
      dirs.delete()
    }
  }
}
