package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}

/** Result digest: row count plus a content hash. Doubles hash by their
  * bits, so a last-ulp change is a mismatch. An ordered digest chains the
  * row hashes in sequence; an unordered one sums them (a multiset hash),
  * so it ignores row order and nothing else. */
object Digest {
  def of(rows: Seq[Row], ordered: Boolean): String = {
    val hashes = rows.map(rowHash)
    val content =
      if (ordered) {
        val md = MessageDigest.getInstance("SHA-256")
        hashes.foreach(h => md.update(java.nio.ByteBuffer.allocate(8).putLong(h).array()))
        md.digest().take(8).map("%02x".format(_)).mkString
      } else f"${hashes.foldLeft(0L)(_ + _)}%016x"
    s"${rows.length}:${if (ordered) "o" else "u"}:$content"
  }

  def rowHash(r: Row): Long = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    encode(r, out)
    out.flush()
    java.nio.ByteBuffer.wrap(
      MessageDigest.getInstance("SHA-256").digest(bytes.toByteArray)).getLong
  }

  private def encode(v: Any, out: DataOutputStream): Unit = v match {
    case null => out.writeByte(0)
    case b: Boolean => out.writeByte(1); out.writeBoolean(b)
    case x: Byte => out.writeByte(2); out.writeLong(x.toLong)
    case x: Short => out.writeByte(2); out.writeLong(x.toLong)
    case x: Int => out.writeByte(2); out.writeLong(x.toLong)
    case x: Long => out.writeByte(2); out.writeLong(x)
    case x: Float => out.writeByte(3); out.writeInt(java.lang.Float.floatToIntBits(x))
    case x: Double => out.writeByte(4); out.writeLong(java.lang.Double.doubleToLongBits(x))
    case s: String => out.writeByte(5); str(s, out)
    case d: java.math.BigDecimal => out.writeByte(6); str(d.toPlainString, out)
    case a: Array[Byte] => out.writeByte(7); out.writeInt(a.length); out.write(a)
    case r: Row =>
      out.writeByte(8); out.writeInt(r.length)
      (0 until r.length).foreach(i => encode(r.get(i), out))
    case m: scala.collection.Map[_, _] =>
      out.writeByte(9); out.writeInt(m.size)
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .foreach { case (k, x) => str(k, out); encode(x, out) }
    case s: scala.collection.Seq[_] =>
      out.writeByte(10); out.writeInt(s.length); s.foreach(encode(_, out))
    // dates, timestamps and anything else with a faithful text form
    case other => out.writeByte(11); str(other.getClass.getName + ":" + other.toString, out)
  }

  private def str(s: String, out: DataOutputStream): Unit = {
    val b = s.getBytes("UTF-8")
    out.writeInt(b.length); out.write(b)
  }

  /** True when `df` ends in a global sort whose keys are output columns
    * and those keys are unique over `rows`: only then is the row order
    * part of the answer. */
  def totallyOrdered(df: DataFrame, rows: Seq[Row]): Boolean = {
    val output = df.queryExecution.optimizedPlan.output
    def topSort(p: LogicalPlan): Option[Sort] = p match {
      case s: Sort if s.global => Some(s)
      case Project(_, c) => topSort(c)
      case GlobalLimit(_, c) => topSort(c)
      case LocalLimit(_, c) => topSort(c)
      case _ => None
    }
    topSort(df.queryExecution.optimizedPlan).exists { s =>
      val idx = s.order.map(_.child match {
        case a: Attribute => output.indexWhere(_.exprId == a.exprId)
        case _ => -1
      })
      idx.forall(_ >= 0) &&
        rows.map(r => idx.map(i => r.get(i))).distinct.length == rows.length
    }
  }
}
