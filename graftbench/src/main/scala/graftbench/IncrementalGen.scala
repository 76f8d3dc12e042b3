package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Random
import ParquetFiles._

/** Seeded source data of the `project_incremental` workload.
  *
  * [[stage]] lays out the source directory the project reads: the sf0.1
  * `orders`, `lineitem` and `customer` tables, each as a directory that
  * later batches add files to, plus empty `orders_delta` and
  * `customer_delta` change tables. [[writeBatch]] writes batch `i` (1, 2,
  * …) for a seed; [[land]] moves it into the source directory. A batch
  * holds:
  *  - [[NewOrders]] new orders, dated in 2001, each with 1–4 new line
  *    items shipped in 2001 (the microbatch model's last yearly window);
  *  - [[Updates]] changed orders (new status and price for existing
  *    keys, four in five of them from earlier batches' inserts);
  *  - [[CustomerChanges]] customers with a new balance or segment (what
  *    the check-strategy snapshot records).
  * Batch `i` depends only on the seed, `i` and the base tables, so the
  * same seed gives byte-identical files whatever ran before. */
object IncrementalGen {

  val NewOrders = 1000
  val Updates = 500
  val CustomerChanges = 200
  val Tables = Seq("orders", "lineitem", "customer")

  val OrderCols: Seq[(String, Kind)] = Seq("o_orderkey" -> I64, "o_custkey" -> I64,
    "o_orderstatus" -> Str, "o_totalprice" -> F64, "o_orderdate" -> TsMicros,
    "o_orderpriority" -> Str)
  val LineCols: Seq[(String, Kind)] = Seq("l_orderkey" -> I64, "l_partkey" -> I64,
    "l_suppkey" -> I64, "l_linenumber" -> I32, "l_quantity" -> F64,
    "l_extendedprice" -> F64, "l_discount" -> F64, "l_tax" -> F64,
    "l_returnflag" -> Str, "l_linestatus" -> Str, "l_shipdate" -> TsMicros)
  val CustomerCols: Seq[(String, Kind)] = Seq("c_custkey" -> I64, "c_name" -> Str,
    "c_nationkey" -> I32, "c_acctbal" -> F64, "c_mktsegment" -> Str)
  private val Batch = Seq("batch_id" -> I32)

  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Y2001 = 978307200000000L // 2001-01-01T00:00:00 in microseconds
  private val DayUs = 86400000000L

  /** The base-table rows a batch needs to change existing keys. */
  final case class Base(orders: Array[Seq[Any]], customers: Array[Seq[Any]])

  def readBase(sf: String): Base = Base(
    readRows(Path.of(sf, "orders.parquet"), OrderCols),
    readRows(Path.of(sf, "customer.parquet"), CustomerCols))

  /** Copy the base tables into `source/<table>.parquet/` directories and
    * create the empty change tables. */
  def stage(sf: String, source: Path): Unit = {
    Tables.foreach { t =>
      val d = source.resolve(s"$t.parquet")
      Files.createDirectories(d)
      Files.copy(Path.of(sf, s"$t.parquet"), d.resolve("part-00000.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    write(source.resolve("orders_delta.parquet").resolve("batch-00000.parquet"),
      OrderCols ++ Batch, Iterator.empty)
    write(source.resolve("customer_delta.parquet").resolve("batch-00000.parquet"),
      CustomerCols ++ Batch, Iterator.empty)
  }

  /** Key of the j-th order inserted by batch i. */
  def orderKey(base: Base, i: Int, j: Int): Long = base.orders.length.toLong + (i - 1L) * NewOrders + j

  private def newOrders(base: Base, seed: Long, i: Int): IndexedSeq[Seq[Any]] = {
    val rnd = new Random(seed * 7919L + i)
    (0 until NewOrders).map { j =>
      Seq(orderKey(base, i, j), rnd.nextInt(base.customers.length).toLong, "O",
        1000 + rnd.nextInt(40000000) / 100.0, Y2001 + rnd.nextInt(300) * DayUs,
        Priorities(rnd.nextInt(Priorities.size)))
    }
  }

  /** Write batch `i` for `seed` into `dir` (one file per changed table);
    * returns the number of line items it adds. */
  def writeBatch(base: Base, seed: Long, i: Int, dir: Path): Int = {
    require(i >= 1, s"batch numbers start at 1, got $i")
    require(base.orders.length >= Updates && base.customers.length >= CustomerChanges,
      "the base tables are too small for a batch")
    val rnd = new Random(seed * 104729L + i)
    val inserted = newOrders(base, seed, i)
    val lines = inserted.flatMap { o =>
      val date = o(4).asInstanceOf[Long]
      (1 to 1 + rnd.nextInt(4)).map { n =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Seq(o.head, rnd.nextInt(20000).toLong, rnd.nextInt(1000).toLong, n, qty,
          qty * (900 + rnd.nextInt(100000) / 100.0), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, "N", "O", date + (1 + rnd.nextInt(60)) * DayUs)
      }
    }
    // changed orders: keys drawn without repeats, four in five from the
    // orders earlier batches inserted (when there are any)
    val earlier = (i - 1) * NewOrders
    val keys = Iterator.continually {
      if (earlier > 0 && rnd.nextInt(5) > 0) base.orders.length.toLong + rnd.nextInt(earlier)
      else rnd.nextInt(base.orders.length).toLong
    }.distinct.take(Updates).toSeq
    val inserts = scala.collection.mutable.Map.empty[Int, IndexedSeq[Seq[Any]]]
    val updates = keys.map { k =>
      val original =
        if (k < base.orders.length) base.orders(k.toInt)
        else {
          val g = k - base.orders.length
          inserts.getOrElseUpdate((g / NewOrders).toInt + 1,
            newOrders(base, seed, (g / NewOrders).toInt + 1))((g % NewOrders).toInt)
        }
      Seq(k, original(1), Statuses(rnd.nextInt(Statuses.size)),
        1000 + rnd.nextInt(40000000) / 100.0, original(4), original(5), i)
    }
    val customers = Iterator.continually(rnd.nextInt(base.customers.length)).distinct
      .take(CustomerChanges).toSeq.map { c =>
        val row = base.customers(c)
        Seq(row(0), row(1), row(2), rnd.nextInt(1000000) / 100.0 - 999.99,
          if (rnd.nextBoolean()) Segments(rnd.nextInt(Segments.size)) else row(4), i)
      }
    val name = f"batch-$i%05d.parquet"
    write(dir.resolve("orders_delta").resolve(name), OrderCols ++ Batch,
      (inserted.map(_ :+ i) ++ updates).iterator)
    write(dir.resolve("lineitem").resolve(name), LineCols, lines.iterator)
    write(dir.resolve("customer_delta").resolve(name), CustomerCols ++ Batch, customers.iterator)
    lines.size
  }

  /** Move a written batch into the source directory. */
  def land(dir: Path, source: Path): Unit =
    Seq("orders_delta", "lineitem", "customer_delta").foreach { t =>
      val ls = Files.list(dir.resolve(t))
      try ls.iterator().asScala.toSeq.foreach { f =>
        Files.move(f, source.resolve(s"$t.parquet").resolve(f.getFileName))
      } finally ls.close()
    }

  private def readRows(path: Path, cols: Seq[(String, Kind)]): Array[Seq[Any]] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.example.data.Group
    val reader = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path.toAbsolutePath.toUri)).build()
    val out = Array.newBuilder[Seq[Any]]
    try {
      var g: Group = reader.read()
      while (g != null) {
        out += cols.map { case (n, k) =>
          if (g.getFieldRepetitionCount(n) == 0) null
          else k match {
            case I32 => g.getInteger(n, 0)
            case I64 | TsMicros => g.getLong(n, 0)
            case F64 => g.getDouble(n, 0)
            case Str => g.getString(n, 0)
          }
        }
        g = reader.read()
      }
    } finally reader.close()
    // indexed by key: the base keys are 0..n-1, generated keys follow
    val rows = out.result().sortBy(_.head.asInstanceOf[Long])
    require(rows.indices.forall(i => rows(i).head == i.toLong), s"$path: keys are not 0..n-1")
    rows
  }
}
