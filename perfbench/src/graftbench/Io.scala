package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** File helpers for set-up and checks; none of them is timed. */
object Io {

  def mkdirs(path: String): Unit = { new File(path).mkdirs(); () }

  /** Write `df` as ONE parquet file at `path` (not a directory). */
  def writeSingleParquet(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(path).toPath, StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  /** The single data file of each `key=value` partition directory of a
    * partitioned parquet write, by partition value.
    */
  def partitionFiles(dir: String, key: String): Map[String, File] =
    new File(dir).listFiles().filter(_.getName.startsWith(s"$key=")).map { d =>
      d.getName.stripPrefix(s"$key=") ->
        d.listFiles().filter(f => f.getName.endsWith(".parquet")).head
    }.toMap

  def copy(src: File, dest: String): Unit = {
    Files.copy(src.toPath, new File(dest).toPath, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
      ()
    }
    rm(new File(path))
  }

  /** Bytes of every regular file under `path`, Spark's hidden files included. */
  def treeBytes(path: String): Long = {
    def sz(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
      else f.length()
    sz(new File(path))
  }
}
