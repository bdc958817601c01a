package graft

import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** Commit-metadata flatness smoke: with the sharded manifest layout a
  * tiny append to a table with F data files must cost the same as one
  * to a table with K×F files — the commit writes one O(batch) segment
  * plus a small manifest, never rewriting the O(table) file list or
  * its ~1 KB/file bloom payloads. This main builds two bloomed,
  * stat-covered tables at F and K×F files, times a 1-row append to
  * each (data write included — it is identical on both sides), and
  * prints the ratio; ~1.0 is the pass signal, pre-sharding this grew
  * toward K.
  *
  * Usage: runMain graft.ManifestSmoke [files] [factor] [iters]
  */
object ManifestSmoke {
  def main(args: Array[String]): Unit = {
    val files = if (args.length > 0) args(0).toInt else 400
    val factor = if (args.length > 1) args(1).toInt else 10
    val iters = if (args.length > 2) args(2).toInt else 5

    val cpus = GraftConf.envInt("SPARK_GRAFT_CPUS", 8)
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def build(n: Int): String = {
      val dir = TempDirs.create(s"manifest-smoke-$n")
      // one row per file keeps the BUILD cheap while making the
      // metadata realistic: per-file stats + a 1 KB bloom each
      Snapshots.commit(
        spark.range(n).select(col("id"), (col("id") * 7L).as("k"))
          .repartition(n, col("id")),
        dir, "overwrite", statsColumns = Seq("id"), bloomColumns = Seq("k"))
      dir
    }
    def timeAppend(dir: String): Double = {
      val one = Seq((-1L, -7L)).toDF("id", "k").coalesce(1)
      (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        Snapshots.commit(one, dir, "append",
          statsColumns = Seq("id"), bloomColumns = Seq("k"))
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    val small = build(files)
    val big = build(files * factor)
    println(s"[manifest-smoke] built $files and ${files * factor}-file tables")
    val tSmall = timeAppend(small)
    val tBig = timeAppend(big)
    val mSmall = Snapshots.readManifest(spark, small,
      Snapshots.latestVersion(spark, small).get)
    val mBig = Snapshots.readManifest(spark, big,
      Snapshots.latestVersion(spark, big).get)
    println(f"[manifest-smoke] append @${mSmall.files.size} files ${tSmall}%.3fs, " +
      f"@${mBig.files.size} files ${tBig}%.3fs, ratio ${tBig / tSmall}%.2f")
    println(f"""{"metric":"manifest_smoke","files":$files,"factor":$factor,""" +
      f""""t_small":$tSmall%.3f,"t_big":$tBig%.3f,"ratio":${tBig / tSmall}%.2f}""")
    spark.stop()
  }
}
