package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** query_mix: a fixed list of registry queries, each built and collected
  * in turn, in an order shuffled by the seed. The warm-up's answers are
  * written out for the DuckDB check; every timed answer must equal its
  * warm-up answer. */
object QueryMix {

  /** Order-independent digest of a result. Floating values are rounded
    * to 12 significant digits, like the oracle comparison, so a
    * different summation order does not count as a different answer. */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
                        else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case o => o.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(b: Bench): (Seq[Op], Seq[(String, Double)], Map[String, Any]) = {
    val spark = b.spark
    val data = b.arg("data")
    val names = b.arg("queries").split(",").toSeq
    val seed = b.arg("seed").toLong
    val t = b.tracer

    def query(name: String): Op = b.op(name) {
      t.span("ops.query") {
        val df: DataFrame = t.span("ops.build")(SparkEntry.queries(name)(spark, data))
        if (b.traced) t.span("ops.plan")(df.queryExecution.executedPlan)
        val rows = t.span("ops.collect")(df.collect())
        (rows.length.toLong, Map[String, Any]("df" -> df, "data" -> rows))
      }
    }

    // Warm-up: every query once, nproc at a time (the first run of a
    // query pays class loading and code generation, which dwarf its warm
    // latency). Its answers go to parquet for the DuckDB comparison. A
    // query that fails here is retried alone before it counts as failed.
    val sc = spark.sparkContext
    val warmPool = java.util.concurrent.Executors.newFixedThreadPool(b.cores)
    val pending = names.map { name =>
      name -> warmPool.submit(() => {
        sc.setJobGroup(s"warm-$name", name, interruptOnCancel = true)
        try {
          val df = SparkEntry.queries(name)(spark, data)
          (df.schema, df.collect())
        } finally sc.clearJobGroup()
      })
    }
    val expected = scala.collection.mutable.Map.empty[String, String]
    val warm = pending.map { case (name, f) =>
      val got = try Some(f.get(b.opTimeoutS, java.util.concurrent.TimeUnit.SECONDS))
        catch { case _: Throwable => sc.cancelJobGroup(s"warm-$name"); None }
      val answer = got.orElse {
        val o = query(name)
        if (o.ok) Some((o.extra("df").asInstanceOf[DataFrame].schema,
          o.extra("data").asInstanceOf[Array[Row]])) else None
      }
      answer.foreach { case (schema, rows) =>
        expected(name) = fingerprint(rows)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(s"${b.out}/answers/$name.parquet")
      }
      Map[String, Any]("name" -> name, "ok" -> answer.isDefined)
    }
    warmPool.shutdownNow()
    spark.sqlContext.clearCache()
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"${b.out}/oracle_sql.json"), Json(oracle))

    // a round is one pass over every query, in an order shuffled per pass
    var pass = 0
    val ops = b.timed {
      pass += 1
      new scala.util.Random(seed * 1000 + pass).shuffle(names).map { name =>
        val o = query(name)
        spark.sqlContext.clearCache()
        o.copy(extra = Map("same_as_warmup" -> (o.ok && expected.get(name)
          .contains(fingerprint(o.extra("data").asInstanceOf[Array[Row]])))))
      }
    }

    val layer = if (!b.traced) Nil else {
      b.drain()
      val probes = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1).selectExpr("id + 1").collect()
        (System.nanoTime() - t0) / 1e6
      }
      val floor = Main.median(probes)
      Seq(
        "ops.floor_ms" -> floor,
        "ops.plan_ms" -> Main.median(t.all.filter(_.name == "ops.plan")
          .takeRight(ops.size).map(_.seconds * 1e3)),
        "ops.above_floor_ms" -> (Main.median(ops.filter(_.ok).map(_.ms)) - floor))
    }
    (ops, layer, Map("warmup" -> warm, "passes" -> pass))
  }
}
