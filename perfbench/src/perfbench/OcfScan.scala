package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Seeded TPC-H-like rows for the catalog workloads, defined by Avro schemas
  * so that the same values feed the tables, the expected answers and the
  * kernel probes. */
object Tables {
  val LineItem: String =
    """{"type":"record","name":"LineItem","namespace":"bench","fields":[
      |{"name":"l_orderkey","type":"long"},{"name":"l_linenumber","type":"int"},
      |{"name":"l_partkey","type":"long"},{"name":"l_suppkey","type":"long"},
      |{"name":"l_quantity","type":"long"},{"name":"l_price","type":"long"},
      |{"name":"l_discount","type":"int"},{"name":"l_returnflag","type":"string"},
      |{"name":"l_linestatus","type":"string"},{"name":"l_shipday","type":"int"},
      |{"name":"l_shipmode","type":"string"},{"name":"l_comment","type":"string"},
      |{"name":"l_shipyear","type":"int"}]}""".stripMargin
  // field positions in LineItem
  val OrderKey = 0; val Qty = 4; val Price = 5; val Disc = 6; val Flag = 7
  val Status = 8; val ShipDay = 9; val Year = 12

  val Orders: String =
    """{"type":"record","name":"Order","namespace":"bench","fields":[
      |{"name":"o_orderkey","type":"long"},{"name":"o_custkey","type":"long"},
      |{"name":"o_status","type":"string"},{"name":"o_total","type":"long"},
      |{"name":"o_info","type":{"type":"record","name":"Info","fields":[
      |  {"name":"priority","type":"string"},{"name":"clerk","type":"string"},
      |  {"name":"ship","type":{"type":"record","name":"Ship","fields":[
      |    {"name":"mode","type":"string"},{"name":"days","type":"int"}]}}]}},
      |{"name":"o_tags","type":{"type":"array","items":"string"}}]}""".stripMargin

  val OrdersReader: String =
    """{"type":"record","name":"Order","namespace":"bench","fields":[
      |{"name":"o_total","type":"long"},{"name":"o_orderkey","type":"long"},
      |{"name":"o_info","type":{"type":"record","name":"Info","fields":[{"name":"priority","type":"string"}]}},
      |{"name":"o_region","type":"string","default":"none"}]}""".stripMargin

  def resolveOrder(v: Any): Any = {
    val r = v.asInstanceOf[Rec].vs
    Rec(Vector(r(3), r(0), Rec(Vector(r(4).asInstanceOf[Rec].vs(0))), "none"))
  }

  val Years: Vector[Int] = (1992 to 1998).toVector
  val Modes = Vector("AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB", "REG AIR")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def lineItems(r: Random, orders: Int, firstKey: Long): Vector[Rec] =
    (0 until orders).toVector.flatMap { o =>
      val key = firstKey + o
      (1 to 1 + r.nextInt(7)).map { ln =>
        val year = Years(r.nextInt(Years.size))
        Rec(Vector(key, ln, r.nextInt(20000).toLong, r.nextInt(1000).toLong, 1L + r.nextInt(50),
          100L + r.nextInt(10000000), r.nextInt(11), Vector("A", "N", "R")(r.nextInt(3)),
          Vector("O", "F")(r.nextInt(2)), (year - 1992) * 365 + r.nextInt(365), Modes(r.nextInt(Modes.size)),
          Text.words(r, 2 + r.nextInt(4)).mkString(" "), year))
      }
    }

  def orders(r: Random, n: Int): Vector[Rec] = Vector.tabulate(n) { i =>
    Rec(Vector(1L + i, r.nextInt(15000).toLong, Vector("F", "O", "P")(r.nextInt(3)), 1000L + r.nextInt(50000000),
      Rec(Vector(Priorities(r.nextInt(5)), f"Clerk#${r.nextInt(1000)}%09d",
        Rec(Vector(Modes(r.nextInt(Modes.size)), r.nextInt(30))))),
      Text.words(r, r.nextInt(4))))
  }

  def frame(ctx: Ctx, schemaJson: String, rows: Seq[Rec]): DataFrame = {
    val s = Avro.parse(schemaJson)
    ctx.spark.createDataFrame(rows.map(v => Avro.toSpark(s, v).asInstanceOf[Row]).asJava,
      Avro.sparkType(s).asInstanceOf[StructType])
  }

  def ddl(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  def longOf(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
}

/** `ocf-scan`: reads of two catalog tables landed once at setup. `li` is flat,
  * partitioned by year, with min/max stats and a Bloom filter on the order
  * key, so its scans take the columnar lane; `orders` has nested records, so
  * its scans take the row lane. The op mix runs pruned lookups (bound by scan
  * planning) and full scans (bound by decode). Expected answers are computed
  * from the generated rows in plain Scala. */
final class OcfScanWorkload extends Workload {
  import Tables._
  val name = "ocf-scan"
  // Short pruned reads come more often than full scans, as from an analyst.
  val cycle = Seq("bloom_point", "bloom_point", "bloom_point", "key_range", "key_range", "key_range",
    "partition_filter", "partition_filter", "pushdown_minmax", "pushdown_minmax",
    "runtime_filter_join", "runtime_filter_join", "full_agg_li", "full_agg_orders", "time_travel")

  val Orders = 6000
  val Labels = Vector("early", "mid", "late")
  def labelOf(year: Int): String = Labels((year - 1992) * 3 / 7)

  private var ns = ""
  private var li = Vector.empty[Rec]
  private var liV1 = Vector.empty[Rec]
  private var ords = Vector.empty[Rec]
  private var v1 = 0L
  def inputDigest: Int = scala.util.hashing.MurmurHash3.seqHash(li ++ ords)

  def setup(ctx: Ctx, dir: File, rnd: Random): Unit = {
    val spark = ctx.spark
    ns = s"g.scan_${dir.getName}"
    li = lineItems(rnd, Orders, 1L)
    ords = orders(rnd, Orders)
    // the second commit holds every tenth line; time travel reads the first
    val (late, early) = li.partition(_.vs(OrderKey).asInstanceOf[Long] % 10 == 3)
    liV1 = early
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    val liDf = frame(ctx, LineItem, early)
    spark.sql(s"""CREATE TABLE $ns.li (${ddl(liDf)}) USING `graft-ocf` PARTITIONED BY (l_shipyear)
                 |OPTIONS (statsColumns 'l_orderkey,l_shipday', bloomColumns 'l_orderkey')""".stripMargin)
    def land(df: DataFrame): Unit = df.repartitionByRange(2 * ctx.nCores, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey").writeTo(s"$ns.li").append()
    land(liDf)
    v1 = spark.sql(s"SELECT max(version) FROM $ns.li.history").head.getLong(0)
    land(frame(ctx, LineItem, late))
    val oDf = frame(ctx, Tables.Orders, ords)
    spark.sql(s"CREATE TABLE $ns.orders (${ddl(oDf)}) USING `graft-ocf` OPTIONS (statsColumns 'o_orderkey')")
    oDf.repartition(2 * ctx.nCores).writeTo(s"$ns.orders").append()
    spark.sql(s"CREATE TABLE $ns.cal (y INT, label STRING) USING `graft-ocf`")
    spark.sql(s"INSERT INTO $ns.cal VALUES " + Years.map(y => s"($y, '${labelOf(y)}')").mkString(", "))
  }

  private def l(r: Rec, i: Int): Long = r.vs(i) match { case x: Long => x; case x: Int => x.toLong }
  private def s(r: Rec, i: Int): String = r.vs(i).asInstanceOf[String]

  /** Runs `sql` and compares its rows, in order, with `exp`. */
  private def query(kind: String, params: String, rows: Long, sql: String, exp: Seq[Seq[Any]]): Op =
    Op(kind, params, rows, ctx => {
      val got = ctx.collect(ctx.spark.sql(sql)).map(_.toSeq.map {
        case null => 0L
        case x: Int => x.toLong
        case x => x
      }).toSeq
      if (got == exp) None else Some(s"got ${got.take(5)}, expected ${exp.take(5)}")
    })

  def op(kind: String, rnd: Random): Op = {
    val t = s"$ns.li"
    kind match {
      case "bloom_point" =>
        val k = 1L + rnd.nextInt(Orders)
        val m = li.filter(l(_, OrderKey) == k)
        query(kind, s"key=$k", li.size, s"SELECT count(*), sum(l_quantity) FROM $t WHERE l_orderkey = $k",
          Seq(Seq(m.size.toLong, m.map(l(_, Qty)).sum)))
      case "key_range" =>
        val a = 1L + rnd.nextInt(Orders - 60)
        val m = li.filter(r => l(r, OrderKey) >= a && l(r, OrderKey) <= a + 50)
        query(kind, s"keys=[$a,${a + 50}]", li.size,
          s"SELECT count(*), sum(l_price) FROM $t WHERE l_orderkey BETWEEN $a AND ${a + 50}",
          Seq(Seq(m.size.toLong, m.map(l(_, Price)).sum)))
      case "partition_filter" =>
        val y = Years(rnd.nextInt(Years.size))
        val m = li.filter(l(_, Year) == y)
        query(kind, s"year=$y", li.size,
          s"SELECT count(*), sum(l_quantity), sum(l_price * (100 - l_discount)) FROM $t WHERE l_shipyear = $y",
          Seq(Seq(m.size.toLong, m.map(l(_, Qty)).sum, m.map(r => l(r, Price) * (100 - l(r, Disc))).sum)))
      case "pushdown_minmax" =>
        val y = Years(rnd.nextInt(Years.size))
        val m = li.filter(l(_, Year) == y)
        query(kind, s"year=$y", li.size,
          s"SELECT count(*), min(l_orderkey), max(l_orderkey), max(l_shipday) FROM $t WHERE l_shipyear = $y",
          Seq(Seq(m.size.toLong, m.map(l(_, OrderKey)).min, m.map(l(_, OrderKey)).max, m.map(l(_, ShipDay)).max)))
      case "full_agg_li" =>
        val d = 6 * 365 + rnd.nextInt(365)
        val g = li.filter(l(_, ShipDay) <= d).groupBy(r => (s(r, Flag), s(r, Status))).toSeq.sortBy(_._1)
        query(kind, s"shipday<=$d", li.size,
          s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_price), sum(l_discount)
             |FROM $t WHERE l_shipday <= $d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
          g.map { case ((f, st), rs) => Seq(f, st, rs.size.toLong, rs.map(l(_, Qty)).sum, rs.map(l(_, Price)).sum, rs.map(l(_, Disc)).sum) })
      case "full_agg_orders" =>
        val minTotal = rnd.nextInt(1000000).toLong
        def info(r: Rec) = r.vs(4).asInstanceOf[Rec].vs
        val g = ords.filter(l(_, 3) >= minTotal).groupBy(r => (s(r, 2), info(r)(0).asInstanceOf[String])).toSeq.sortBy(_._1)
        query(kind, s"total>=$minTotal", ords.size,
          s"""SELECT o_status, o_info.priority, count(*), sum(o_total), sum(o_info.ship.days), sum(size(o_tags))
             |FROM $ns.orders WHERE o_total >= $minTotal GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
          g.map { case ((st, p), rs) => Seq(st, p, rs.size.toLong, rs.map(l(_, 3)).sum,
            rs.map(r => info(r)(2).asInstanceOf[Rec].vs(1).asInstanceOf[Int].toLong).sum,
            rs.map(_.vs(5).asInstanceOf[Vector[Any]].size.toLong).sum) })
      case "runtime_filter_join" =>
        val label = Labels(rnd.nextInt(Labels.size))
        val m = li.filter(r => labelOf(l(r, Year).toInt) == label)
        query(kind, s"label=$label", li.size,
          s"""SELECT c.label, count(*), sum(x.l_quantity) FROM $t x JOIN $ns.cal c ON x.l_shipyear = c.y
             |WHERE c.label = '$label' GROUP BY c.label""".stripMargin,
          Seq(Seq(label, m.size.toLong, m.map(l(_, Qty)).sum)))
      case "time_travel" =>
        val f = Vector("A", "N", "R")(rnd.nextInt(3))
        val m = liV1.filter(s(_, Flag) == f)
        query(kind, s"version=$v1 flag=$f", liV1.size,
          s"SELECT count(*), sum(l_price) FROM $t VERSION AS OF $v1 WHERE l_returnflag = '$f'",
          Seq(Seq(m.size.toLong, m.map(l(_, Price)).sum)))
    }
  }

  def probeSet: ProbeSet = ProbeSet(Tables.Orders, ords.take(2000), OrdersReader, resolveOrder)
}
