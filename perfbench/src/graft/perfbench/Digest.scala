package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a job's full result: the row count and the
  * sum of one 64-bit hash per row over every output column. Hashing every
  * column forces each one to be computed — a `count()` lets column pruning
  * skip work. Maps and variants, which Spark's hash functions reject, are
  * hashed through their JSON rendering. */
object Digest {

  final case class Value(rows: Long, hash: String)

  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType | _: VariantType | _: CalendarIntervalType | _: UserDefinedType[_] => false
    case a: ArrayType  => hashable(a.elementType)
    case s: StructType => s.fields.forall(f => hashable(f.dataType))
    case _             => true
  }

  def of(df: DataFrame): Value = {
    val n = df.schema.length
    // positional names: results may carry duplicate or dotted column names
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map { f =>
      if (hashable(f.dataType)) col(f.name) else to_json(struct(col(f.name)))
    }
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(rowHash.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Value(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Expected result of one entry. `exact` entries must match the digest;
    * the others are not deterministic and are checked by row count. */
  final case class Expected(rows: Long, hash: String, exact: Boolean)

  /** Expected-digest file: `name<TAB>exact|rows<TAB>rows<TAB>hash` lines. */
  def load(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(name, kind, rows, hash) = l.split('\t')
      name -> Expected(rows.toLong, hash, kind == "exact")
    }.toMap
    finally src.close()
  }

  /** None when the value matches, else the reason. */
  def check(name: String, got: Value, expected: Map[String, Expected]): Option[String] =
    expected.get(name) match {
      case None => Some("no expected digest")
      case Some(e) if e.rows != got.rows => Some(s"rows ${got.rows} != expected ${e.rows}")
      case Some(e) if e.exact && e.hash != got.hash => Some(s"digest ${got.hash} != expected ${e.hash}")
      case _ => None
    }
}
