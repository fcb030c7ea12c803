package lcbench

import java.nio.file.{Files, Paths}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent hash of a query result: each row is rendered
  * canonically (doubles to 9 significant digits, maps sorted by key) and the
  * 64-bit row hashes are summed, so row order and partitioning do not matter
  * but every row and every duplicate does.
  */
object RowHash {
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Seq[Row]): String = {
    val sum = rows.foldLeft(0L) { (acc, row) =>
      val s = render(row)
      acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL))
    }
    java.lang.Long.toHexString(sum)
  }
}

/** Recorded driver-mix results: `query rows hash` per line, `#` comments. */
object Expected {
  def load(path: String): Map[String, (Long, String)] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).toArray.toSeq.map(_.toString.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
}
