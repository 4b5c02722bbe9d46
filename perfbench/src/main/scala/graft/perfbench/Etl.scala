package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{Context, DataSet}

/** etl_dirty_csv: the Zillow Z1 cleaning job through graft's Tuplex-style
  * API — csv with an error channel, try-UDFs with resolve/ignore,
  * filters, a full-row map, the csv sink and the exception counts. */
object Etl {

  val OutCols: Seq[String] = Seq("url", "zipcode", "address", "city", "state",
    "bedrooms", "bathrooms", "sqft", "offer", "type", "price")

  private def afterLastComma(s0: String): String = {
    val j = s0.lastIndexOf(',')
    (if (j < 0) s0 else s0.substring(j + 2)).trim
  }

  def source(ctx: Context, input: String): DataSet =
    ctx.csv(s"$input/listings.csv", header = Some(true), delimiter = Some(","),
      typeHints = Map("postal" -> IntegerType))

  /** The cleaning chain up to (excluding) the sink. `tap` sees the
    * datasets right after the two UDFs whose failures are then resolved
    * or ignored, so a traced run can count those rows. */
  def clean(src: DataSet, tap: (String, DataSet) => Unit = (_, _) => ()): DataSet = {
    val withBeds = src.withColumnUdf[String, Int]("bedrooms", col("facts")) { f =>
      val i = f.indexOf(" bd")
      afterLastComma(if (i < 0) f else f.substring(0, i)).toInt // "studio" throws
    }
    tap("bedrooms", withBeds)
    val withBaths = withBeds
      .resolve(classOf[NumberFormatException])((_: String) => 0)
      .filter(col("bedrooms") < 10)
      .withColumnUdf[String, String]("type", col("title")) { t0 =>
        val t = t0.toLowerCase
        var ty = "unknown"
        if (t.contains("condo") || t.contains("apartment")) ty = "condo"
        if (t.contains("house")) ty = "house"
        ty
      }
      .filter(col("type") === "house")
      .withColumnUdf[Int, String]("zipcode", col("postal"))(pz => f"$pz%05d")
      .mapColumnUdf[String, String]("city")(c =>
        c.substring(0, 1).toUpperCase + c.substring(1).toLowerCase)
      .withColumnUdf[String, Int]("bathrooms", col("facts")) { f =>
        val i = f.indexOf(" ba")
        afterLastComma(if (i < 0) f else f.substring(0, i)).toInt // "?" throws
      }
    tap("bathrooms", withBaths)
    val cleaned = withBaths
      .ignore(classOf[NumberFormatException])
      .withColumnUdf[String, Int]("sqft", col("facts")) { f =>
        val i = f.indexOf(" sqft")
        val s0 = if (i < 0) f else f.substring(0, i)
        val j = s0.lastIndexOf("ba ,")
        (if (j < 0) s0 else s0.substring(j + 5)).replace(",", "").trim.toInt
      }
      .withColumnUdf[String, String]("offer", col("title")) { t0 =>
        val t = t0.toLowerCase
        if (t.contains("sale")) "sale"
        else if (t.contains("rent")) "rent"
        else if (t.contains("sold")) "sold"
        else t
      }
    val cs = cleaned.columns
    val outSchema = StructType(cleaned.schema.fields.map(f =>
      if (f.name == "price") StructField("price", IntegerType) else f))
    cleaned
      .mapRows(outSchema) { r =>
        val offer = r.getAs[String]("offer")
        val praw = r.getAs[String]("price")
        val facts = r.getAs[String]("facts")
        val sqft = r.getAs[Int]("sqft")
        val price = offer match {
          case "sold" =>
            val i = facts.indexOf("Price/sqft: $") + "Price/sqft: $".length
            facts.substring(i).trim.toInt * sqft
          case "rent" => // no "/mo" throws StringIndexOutOfBoundsException
            praw.substring(1, praw.lastIndexOf('/')).replace(",", "").toInt
          case _ =>
            praw.substring(1).replace(",", "").toInt
        }
        Row.fromSeq(cs.map {
          case "price" => price
          case c => r.getAs[Any](c)
        })
      }
      .filter(col("price") > 100000 && col("price") <= 20000000)
      .selectColumns(OutCols)
  }

  private def dirBytes(path: String): Long = {
    val fs = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    try fs.toArray.map(p => java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path])).sum
    finally fs.close()
  }

  /** One whole pipeline run, writing its sink to `sink`. In a traced run
    * every layer's lazy prefix is forced inside its own span. */
  private def pipeline(b: Bench, ctx: Context, input: String, sink: String) = {
    val t = b.tracer
    t.span("etl.pipeline") {
      val src = t.span("api.csv") {
        val s = source(ctx, input); b.force(s.toDF); s }
      val out = t.span("api.udf_chain") {
        val o = clean(src); b.force(o.toDF); o }
      t.span("api.sink")(out.tocsv(sink))
      val counts = t.span("api.exception_counts")(out.exceptionCounts)
      (0L, Map[String, Any]("input" -> input, "sink" -> sink, "exception_counts" -> counts))
    }
  }

  def run(b: Bench): (Seq[Op], Seq[(String, Double)], Map[String, Any]) = {
    val ctx = new Context(b.spark)
    val input = b.arg("input")
    val lines = b.arg("lines").toLong
    var i = 0
    def next(in: String = input, n: Long = lines): Op = {
      i += 1
      val sink = s"${b.out}/sink-$i"
      b.op("etl")(pipeline(b, ctx, in, sink)).copy(rows = n)
    }
    // the warm-up runs the same pipeline on the first lines of the input:
    // it pays class loading, code generation and JIT for the timed runs
    val warm = next(s"$input/warm", b.arg("warm-lines").toLong)
    val ops = b.timed(Seq(next()))
    val layer = if (!b.traced) Nil else layerMetrics(b, ctx, input, lines, ops)
    (ops, layer, Map("warmup" -> Seq(warm.toMap)))
  }

  private def layerMetrics(b: Bench, ctx: Context, input: String, lines: Long,
      ops: Seq[Op]): Seq[(String, Double)] = {
    val t = b.tracer
    b.drain()
    // per timed op (the warm-up's spans come first and are skipped); a
    // span is the wall of forcing the pipeline prefix that ends at its layer
    def per(name: String) = t.all.filter(_.name == name).drop(1)
    def med(name: String) = Main.median(per(name).map(_.seconds))
    // rows the resolver repaired and rows ignore() dropped, counted on
    // the datasets right after their UDFs (extra jobs, traced run only)
    var resolved = 0L
    var ignored = 0L
    clean(source(ctx, input), {
      case ("bedrooms", d) =>
        resolved = d.exceptionCounts.getOrElse(classOf[NumberFormatException].getName, 0L)
      case ("bathrooms", d) =>
        ignored = d.exceptionCounts.getOrElse(classOf[NumberFormatException].getName, 0L)
      case _ =>
    })
    val counts = ops.last.extra.get("exception_counts")
      .map(_.asInstanceOf[Map[String, Long]]).getOrElse(Map.empty)
    val parseErrors = counts.getOrElse(graft.api.DataSet.ParseErrorClass, 0L)
    val unresolved = counts.values.sum - parseErrors
    val csvS = med("api.csv")
    Seq(
      "api.csv_s" -> csvS,
      "api.csv_rows_per_s" -> (if (csvS > 0) lines / csvS else 0.0),
      "api.parse_error_rows" -> parseErrors.toDouble,
      "api.udf_chain_s" -> med("api.udf_chain"),
      "api.udf_failed_rows" -> (resolved + ignored + unresolved).toDouble,
      "api.resolved_rows" -> resolved.toDouble,
      "api.sink_s" -> med("api.sink"),
      "api.sink_mb" -> ops.last.extra.get("sink")
        .map(s => dirBytes(s.toString) / 1048576.0).getOrElse(0.0),
      "api.exception_counts_s" -> med("api.exception_counts"),
      "api.exception_counts_jobs" -> Main.median(per("api.exception_counts").map(_.jobs.toDouble)))
  }
}
