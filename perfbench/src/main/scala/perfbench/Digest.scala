package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Content digests for output checks. */
object Digest {

  private def hex(bytes: Array[Byte]): String =
    bytes.take(12).map(b => f"${b & 0xff}%02x").mkString

  def ofStrings(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    hex(md.digest())
  }

  /** Relative path + bytes of every file under `root`, in path order. */
  def ofTree(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .toSeq.sortBy(root.relativize(_).toString)
    files.foreach { f =>
      md.update(root.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    hex(md.digest())
  }

  /** Order-independent digest of a frame: row count and the sum of a
    * 64-bit hash per row. Top-level floating-point columns are rounded to
    * 6 decimals first: their last bits depend on the order a shuffle
    * delivered the addends in, which is not an output difference. */
  def ofFrame(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val h = xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}
