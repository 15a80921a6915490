package perfbench

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.types._

import graft.core.{FieldDef, HttpRunner, SourceDef, StreamDef}
import graft.sources.{HttpRequest, PaginatedStream, Pagination}

/** The `bench` connector: one stream per pagination style, served by the
  * [[Fixture]]. Runners capture only the fixture's base URL (a runner that
  * held the server object would not serialize into Spark tasks). The op
  * window comes from the CONFIG document; the `op` field there is sent as
  * an `X-Bench-Op` header so the fixture and the timing client can
  * attribute pages to ops.
  */
object BenchSource {
  val Name = "bench"

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("updated_at", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", StringType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StructType(Seq(StructField("k", LongType), StructField("tag", StringType)))),
    StructField("updated_at", StringType)))

  val LineitemPage = 1000

  private def cfg(config: Option[JsonNode], key: String): Option[String] =
    config.flatMap(c => Option(c.get(key))).filterNot(_.isNull).map(_.asText)

  private def opHeader(config: Option[JsonNode]): Seq[(String, String)] =
    cfg(config, "op").map("X-Bench-Op" -> _).toSeq

  private def cursor(state: Option[JsonNode]): Option[String] =
    state.flatMap(s => Option(s.get("To"))).map(_.asText)

  final class OrdersRunner(base: String) extends HttpRunner {
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream =
      PaginatedStream(
        HttpRequest(s"$base/orders", Seq(
          "updated_at_min" -> cursor(state).orElse(cfg(config, "orders_from")).getOrElse("1970-01-01T00:00:00Z"),
          "updated_at_max" -> cfg(config, "orders_to").getOrElse("9999-01-01T00:00:00Z"),
          "limit" -> "250"), opHeader(config)),
        Pagination.LinkHeader(), Seq("orders"))
    override def newState(config: Option[JsonNode], old: Option[JsonNode]): Option[String] =
      cfg(config, "orders_to").map(t => s"""{"To":"$t"}""")
  }

  final class LineitemRunner(base: String) extends HttpRunner {
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream =
      PaginatedStream(
        HttpRequest(s"$base/lineitem",
          Seq("lo" -> cfg(config, "li_lo").getOrElse("0"),
            "hi" -> cfg(config, "li_hi").getOrElse(Long.MaxValue.toString)), opHeader(config)),
        Pagination.Offset("start", "num", LineitemPage, Seq("items")), Seq("items"))
  }

  final class EventsRunner(base: String) extends HttpRunner {
    override def stream(config: Option[JsonNode], state: Option[JsonNode]): PaginatedStream =
      PaginatedStream(
        HttpRequest(s"$base/events", Seq(
          "since" -> cursor(state).getOrElse("1970-01-01T00:00:00Z"),
          "until" -> cfg(config, "events_to").getOrElse("9999-01-01T00:00:00Z"),
          "limit" -> "500"), opHeader(config)),
        Pagination.NextUrl("next"), Seq("data"))
    override def newState(config: Option[JsonNode], old: Option[JsonNode]): Option[String] =
      cfg(config, "events_to").map(t => s"""{"To":"$t"}""")
  }

  def source(base: String): SourceDef = SourceDef(
    name = Name,
    concurrency = 1,
    httpStreams = Seq(
      StreamDef("orders", ordersSchema, incremental = true,
        primaryKey = Seq(FieldDef(Seq("o_orderkey"))),
        iterateBy = Some(FieldDef(Seq("updated_at")))) -> new OrdersRunner(base),
      StreamDef("lineitem", lineitemSchema,
        primaryKey = Seq(FieldDef(Seq("l_orderkey")), FieldDef(Seq("l_linenumber")))) -> new LineitemRunner(base),
      StreamDef("events", eventsSchema, incremental = true,
        primaryKey = Seq(FieldDef(Seq("event_id"))),
        orderBy = Seq(FieldDef(Seq("updated_at"))),
        iterateBy = Some(FieldDef(Seq("updated_at")))) -> new EventsRunner(base)))
}

/** One op's window over one fixture stream, fixed by the seeded schedule:
  * the CONFIG/STATE an op sends and the records the fixture must return.
  */
final case class Window(stream: String, from: Int, until: Int, data: FixtureData) {
  private def table = stream match {
    case "orders" => data.orders
    case "lineitem" => data.lineitem
    case "events" => data.events
  }
  val records: Int = until - from
  val checksum: Long = table.checksum(from, until)
  /** Key/cursor bounds as request values. */
  def lo: String = bound(from)
  def hi: String = bound(until)
  private def bound(i: Int): String = stream match {
    case "lineitem" =>
      if (i >= data.lineitem.size) Long.MaxValue.toString else data.lineitem.sortKey(i).toString
    case _ =>
      if (i >= table.size) "9999-01-01T00:00:00Z" else Table.rfc3339(table.sortKey(i))
  }
  def config(op: Long): String = stream match {
    case "orders" => s"""{"op":"$op","orders_from":"$lo","orders_to":"$hi"}"""
    case "lineitem" => s"""{"op":"$op","li_lo":"$lo","li_hi":"$hi"}"""
    case "events" => s"""{"op":"$op","events_to":"$hi"}"""
  }
  /** Incoming cursor state for the incremental events stream. */
  def state: Option[String] = if (stream == "events") Some(s"""{"To":"$lo"}""") else None
}

object Window {
  /** A seeded permutation of `0 until n` (Fisher–Yates): the order in which
    * one block of a schedule runs its ops.
    */
  def shuffled(seed: Long, n: Int): Array[Int] = {
    val rng = new java.util.SplittableRandom(Table.mix(seed))
    val order = Array.range(0, n)
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    order
  }

  /** A window of about `n` records starting at a seeded row. Lineitem
    * windows are whole `l_orderkey` ranges, so they start and end on a key
    * boundary.
    */
  def draw(stream: String, n: Int, rng: java.util.SplittableRandom, data: FixtureData): Window = {
    val size = stream match {
      case "orders" => data.orders.size
      case "lineitem" => data.lineitem.size
      case "events" => data.events.size
    }
    val start = rng.nextInt(size - n)
    if (stream == "lineitem") {
      val t = data.lineitem
      val from = t.lowerBound(t.sortKey(start))
      Window(stream, from, t.lowerBound(t.sortKey(from + n)), data)
    } else {
      val t = if (stream == "orders") data.orders else data.events
      // cursor windows: start and end on a distinct cursor value
      Window(stream, t.lowerBound(t.sortKey(start)), t.lowerBound(t.sortKey(start + n)), data)
    }
  }
}
