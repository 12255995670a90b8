package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.cli.{Commands, GraftEngine}

/** Open-loop catalog client: sends `Commands.main` operations on a fixed
  * schedule against a partitioned table created at set-up, whatever the
  * job clients are doing. Each operation is timed from its scheduled send
  * time, so a stall also charges the operations queued behind it. The
  * sequence comes from the seed; a model of the table's partitions gives
  * every operation its expected output.
  *
  * The traffic shape is an assumption, not a measurement: no trace of real
  * GLUEttalax use exists to take it from. The five operation kinds get
  * equal shares, the table has 240 base partitions, and discovery finds
  * six directories. */
final class CatalogClient(root: Path, seed: Long, opsPerSec: Double, tracer: Tracer) {
  import CatalogClient._

  final case class Op(kind: String, scheduledNs: Long, startNs: Long, endNs: Long,
      error: Option[String])

  private val tableDir = root.resolve("events_by_month")
  private val discoverDir = root.resolve("discover")
  private val extra = mutable.TreeSet.empty[(Int, Int)] // partitions beyond the base set
  private val rnd = new scala.util.Random(seed)
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()

  /** Creates the database, the table and its base partitions, and the
    * directory tree `add_partitions` discovers. */
  def setup(engine: GraftEngine): Unit = {
    graft.operators.deleteRecursively(root)
    Files.createDirectories(tableDir)
    DiscoverMonths.foreach { m =>
      val d = discoverDir.resolve(f"year=$DiscoverYear/month=$m%02d")
      Files.createDirectories(d)
      Files.write(d.resolve("part-00000"), Array.emptyByteArray)
    }
    val spark = engine.spark
    spark.sql(s"DROP DATABASE IF EXISTS $Db CASCADE")
    spark.sql(s"CREATE DATABASE $Db LOCATION '${root.resolve("db")}'")
    spark.sql(s"CREATE TABLE $Db.$Table (event_id BIGINT, value DOUBLE, year STRING, month STRING) " +
      s"USING parquet PARTITIONED BY (year, month) LOCATION '$tableDir'")
    val specs = for (y <- BaseYears; m <- 1 to 12)
      yield f"PARTITION (year='$y', month='$m%02d')"
    spark.sql(s"ALTER TABLE $Db.$Table ADD ${specs.mkString(" ")}")
    extra.clear()
  }

  private def expectLines(kind: String, out: Seq[String]): Option[String] = kind match {
    case "list_partitions" =>
      val want = BaseYears.size * 12 + extra.size
      if (out.size == want) None else Some(s"listed ${out.size} partitions, expected $want")
    case "list_tables" =>
      if (out.exists(_.trim.endsWith(Table))) None else Some(s"$Table missing from listing")
    case "add_partition" => if (out == Seq("Partition added")) None else Some(out.mkString("|"))
    case "del_partition" => if (out == Seq("Partition deleted")) None else Some(out.mkString("|"))
    case "add_partitions" =>
      if (out.size == DiscoverMonths.size && out.forall(l => l.endsWith("added") || l.endsWith("already exists"))) None
      else Some(out.mkString("|"))
  }

  /** Next operation, each kind equally likely, with its argv; updates the
    * model. */
  private def next(): (String, Seq[String]) = {
    def add(): (String, Seq[String]) = {
      var p = (AddYears.start + rnd.nextInt(AddYears.size), 1 + rnd.nextInt(12))
      while (extra(p)) p = (AddYears.start + rnd.nextInt(AddYears.size), 1 + rnd.nextInt(12))
      extra += p
      "add_partition" -> Seq("add_partition", Db, Table, s"--year=${p._1}", f"--month=${p._2}%02d")
    }
    Kinds(rnd.nextInt(Kinds.size)) match {
      case "list_partitions" => "list_partitions" -> Seq("list_partitions", Db, Table, "--noheaders")
      case "list_tables"     => "list_tables" -> Seq("list_tables", "events_by*", "--noheaders")
      case "add_partition"   => add()
      case "del_partition" if extra.isEmpty => add()
      case "del_partition" =>
        val p = extra.toSeq(rnd.nextInt(extra.size))
        extra -= p
        "del_partition" -> Seq("del_partition", Db, Table, s"--year=${p._1}", f"--month=${p._2}%02d")
      case _ =>
        DiscoverMonths.foreach(m => extra += ((DiscoverYear, m)))
        "add_partitions" -> Seq("add_partitions", Db, Table, discoverDir.toString)
    }
  }

  /** Sends operations until `stop` returns true. */
  def run(engine: GraftEngine, stop: () => Boolean, parentSpan: Long): Unit = {
    val t0 = System.nanoTime()
    val intervalNs = (1e9 / opsPerSec).toLong
    var i = 0L
    while (!stop()) {
      val due = t0 + i * intervalNs
      while (!stop() && System.nanoTime() < due)
        Thread.sleep(math.max(0L, math.min(20L, (due - System.nanoTime()) / 1000000)))
      if (!stop()) {
        val (kind, argv) = next()
        val out = mutable.ArrayBuffer.empty[String]
        val start = System.nanoTime()
        val startMs = tracer.nowMs
        val code = try Commands.main(engine, argv, out += _)
          catch { case e: Throwable => out += e.toString; -1 }
        val end = System.nanoTime()
        tracer.add(tracer.nextId(), parentSpan, "catalog_op", kind, startMs - (start - due) / 1e6,
          tracer.nowMs)
        val err = if (code != 0) Some(s"exit $code: ${out.mkString("|").take(200)}")
          else expectLines(kind, out.toSeq)
        ops.add(Op(kind, due, start, end, err))
        i += 1
      }
    }
  }
}

object CatalogClient {
  val Db = "perfbench_catalog"
  val Table = "events_by_month"
  val BaseYears: Range = 2000 until 2020 // 240 base partitions
  val AddYears: Range = 2100 until 2200
  val DiscoverYear = 2050
  val DiscoverMonths: Seq[Int] = 1 to 6
  val Kinds = Seq("list_partitions", "list_tables", "add_partition", "del_partition", "add_partitions")
}
