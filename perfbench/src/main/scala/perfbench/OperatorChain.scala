package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Inventory queries from `SparkEntry.queries` over seeded relational
  * tables, one at a time, in an order the seed permutes.
  *
  * `perfbench/tables.py` writes the tables in set-up and answers every
  * query that has `SparkEntry.oracleSql` in DuckDB; each result must match
  * its oracle answer row for row and cell for cell. A query without oracle
  * SQL must give, on every pass, exactly the rows it gave on the first.
  */
object OperatorChain {
  val queryNames = Seq("q01_pricing_summary", "q59_bloom_filter", "q97b_funnel_onepass")

  private var tables: String = _
  private var order: Seq[String] = Nil
  /** Canonical rows, sorted, per query: the oracle's, or the first pass's. */
  private val expected = scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
  private val mapper = new ObjectMapper()
  private val sql = SparkEntry.oracleSql.filter { case (q, _) => queryNames.contains(q) }

  private def expectedFile(work: Path): Path = work.resolve("oracle_rows.json")

  /** Runs `tables.py`: the seeded tables and the oracle's answers. */
  def generate(seed: Long, work: Path, bench: Path): Unit = {
    val sqlFile = work.resolve("oracle_sql.json")
    mapper.writeValue(sqlFile.toFile, sql.asJava)
    tables = work.resolve("tables").toString
    val cmd = Seq("python3", bench.resolve("tables.py").toString, "--seed", seed.toString,
      "--out", tables, "--sql", sqlFile.toString, "--expected", expectedFile(work).toString)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectOutput(ProcessBuilder.Redirect.to(work.resolve("tables.log").toFile))
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    val code = proc.waitFor()
    if (code != 0) throw new IllegalStateException(s"${cmd.mkString(" ")} exited with $code")
  }

  def prepare(ctx: Ctx): Unit = {
    val oracle = mapper.readTree(expectedFile(ctx.work).toFile)
    for (q <- sql.keys) {
      val res = oracle.get(q)
      val cols = res.get("columns").elements().asScala.map(_.asText).toIndexedSeq
      val byName = cols.indices.sortBy(cols)
      expected(q) = res.get("rows").elements().asScala.map { r =>
        byName.map(i => s"${cols(i)}=${Canon.json(r.get(i))}").mkString("|")
      }.toSeq.sorted
    }
    order = new scala.util.Random(ctx.seed).shuffle(queryNames)
  }

  def pass(ctx: Ctx): Seq[() => Op] = order.map { q =>
    ctx.op(q) {
      SparkEntry.queries(q)(ctx.spark, tables).collect()
    } { rows =>
      val got = rows.map(canonical).toSeq.sorted
      expected.get(q) match {
        case Some(want) =>
          if (got != want) System.err.println(s"perfbench: $q: ${got.size} rows, want ${want.size}; " +
            s"first difference: ${got.diff(want).headOption.getOrElse("-")} vs ${want.diff(got).headOption.getOrElse("-")}")
          got == want
        case None =>
          expected(q) = got
          got.nonEmpty
      }
    }
  }

  private def canonical(r: Row): String =
    r.schema.fieldNames.indices.sortBy(r.schema.fieldNames(_))
      .map(i => s"${r.schema.fieldNames(i)}=${Canon.spark(r.get(i))}").mkString("|")
}

/** One text form for a value from Spark and from the oracle's JSON, so the
  * two compare exactly: numbers by their exact decimal value, whatever
  * their type.
  */
object Canon {
  private val mapper = new ObjectMapper()

  private def num(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString else num(new java.math.BigDecimal(d))

  def spark(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case b: java.math.BigDecimal => num(b)
    case s: String => mapper.writeValueAsString(s)
    case s: scala.collection.Seq[_] => s.map(spark).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(spark).mkString("{", ",", "}")
    case other => other.toString
  }

  def json(n: JsonNode): String =
    if (n == null || n.isNull) "null"
    else if (n.isBoolean) n.asBoolean.toString
    else if (n.isIntegralNumber) n.bigIntegerValue.toString
    else if (n.isNumber) double(n.doubleValue)
    else if (n.isTextual) mapper.writeValueAsString(n.textValue)
    else if (n.isArray) n.elements().asScala.map(json).mkString("[", ",", "]")
    else if (n.has("$dec")) num(new java.math.BigDecimal(n.get("$dec").asText))
    else if (n.has("$f")) n.get("$f").asText match {
      case "nan" => "NaN"
      case "inf" => "Infinity"
      case _ => "-Infinity"
    }
    else if (n.has("$struct"))
      n.get("$struct").elements().asScala.map(kv => json(kv.get(1))).mkString("{", ",", "}")
    else n.toString
}
