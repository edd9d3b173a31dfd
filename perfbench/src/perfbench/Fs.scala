package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** File helpers of the benchmark. The corpus itself is written by
  * `perfbench/gen.py` before the JVM starts. */
object Fs {
  /** One parquet FILE at `<dir>/<name>.parquet`, the layout both Spark's
    * `Tables.load` and a plain DuckDB path read. */
  def writeOne(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Paths.get(dir, s".tmp_$name")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst()
      .orElseThrow(() => new IllegalStateException(s"no part file for $name"))
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }

  /** Byte-identical copy of a corpus directory (a fresh path, so every
    * cache keyed on input files misses on it). */
  def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    Files.walk(s).forEach { p =>
      val t = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
  }

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  def treeFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }
}
