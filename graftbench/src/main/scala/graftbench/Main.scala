package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.operators.{Corpus, Graph, Relational, Similarity, TextAnalysis}
import graft.pipeline.{Dag, Medallion, Monitor}
import graft.sources.{CsvIngest, Landing, Tables}

/** One timed operation: its class, key and latency. `ok` is None while
  * a DuckDB check done after the JVM exits is still owed. */
final case class Op(cls: String, key: String, ms: Double, traced: Boolean,
    iteration: Int, ok: Option[Boolean])

/** A workload as the harness drives it: `setup` is what the program
  * does before its first answer (its time, with session start, is
  * `setup_s`), `iteration` is one timed unit (`wall_s`), `check`
  * verifies an iteration's outputs outside the timed region. */
trait Workload {
  def setup(): Unit
  def iteration(i: Int): Unit
  def check(i: Int): Unit
  def ops: mutable.ArrayBuffer[Op]
  def failures: mutable.ArrayBuffer[String]
  /** Results the Python side checks against DuckDB: key → rows. */
  def owed: mutable.LinkedHashMap[String, Seq[Row]]
  /** End-of-run checks that need every iteration's answers. */
  def finish(): Unit = ()
}

/** Benchmark harness: builds a session the way graft's entrypoints do,
  * sets the workload up (first touch included), then runs timed
  * iterations for `seconds` of measured time and writes one JSON
  * result. With `--trace 1` iterations alternate untraced/traced, so
  * the same run yields the per-layer breakdown and the tracing
  * overhead. */
object Main {
  final case class Opts(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: String, out: String,
      traceOut: String)

  def parse(args: Array[String]): Opts = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(a("workload"), a("data"), a("work"), a("seconds").toDouble,
      a("trace") == "1", a("seed").toLong, a("cpus"), a("out"),
      a.getOrElse("trace-out", ""))
  }

  def session(o: Opts): SparkSession = {
    GraftSession.builder(o.cpus)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    GraftSession.local(o.cpus) // validates the correctness-critical confs
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o)
    val w = o.workload match {
      case "medallion_etl" => new MedallionEtl(spark, o)
      case "corpus_build" => new CorpusBuild(spark, o)
      case "query_serve" => new QueryServe(spark, o)
    }
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    println(f"[graftbench] setup: $setupS%.2f s")
    val sc = spark.sparkContext
    val totals = new LayerListener(perLayer = false)
    sc.addSparkListener(totals)
    val layers = new LayerListener(perLayer = true)
    val walls = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val bytes = mutable.ArrayBuffer[Long]()
    var measured = 0.0
    var i = 0
    while (measured < o.seconds || walls.isEmpty || (o.trace && tracedWalls.isEmpty)) {
      val traced = o.trace && i % 2 == 1
      GraftBenchBus.drain(sc)
      val before = totals.outputBytes
      if (traced) { Harness.tracing = true; sc.addSparkListener(layers) }
      val t0 = System.nanoTime()
      w.iteration(i)
      val dt = (System.nanoTime() - t0) / 1e9
      GraftBenchBus.drain(sc)
      if (traced) {
        Harness.tracing = false
        sc.removeSparkListener(layers)
        tracedWalls += dt
      } else {
        walls += dt
        bytes += totals.outputBytes - before
      }
      measured += dt
      println(f"[graftbench] iteration $i${if (traced) " traced" else ""}: $dt%.2f s " +
        w.ops.filter(_.iteration == i).map(op => f"${op.key}=${op.ms}%.0f").mkString(" "))
      w.check(i)
      Harness.isolate(spark)
      i += 1
    }
    w.finish()
    val report = if (o.trace) LayerReport(Harness.spans(sc), layers,
      tracedWalls.size) else Nil
    if (o.trace) Json.write(o.traceOut, TraceFile(Harness.spans(sc), layers))
    Json.write(o.out, Map(
      "setup_s" -> setupS,
      "walls" -> walls.toSeq,
      "traced_walls" -> tracedWalls.toSeq,
      "bytes_written" -> bytes.toSeq,
      "ops" -> w.ops.toSeq.map(op => Map("cls" -> op.cls, "key" -> op.key,
        "ms" -> op.ms, "traced" -> op.traced, "iteration" -> op.iteration,
        "ok" -> op.ok)),
      "failures" -> w.failures.toSeq,
      "owed" -> w.owed.map { case (k, rows) => k -> Json.rows(rows) }.toMap,
      "oracle_sql" -> w.owed.keys.flatMap(k =>
        SparkEntry.oracleSql.get(k.split('#').head).map(k.split('#').head -> _)).toMap,
      "layers" -> report.toMap,
      "rss_peak_mb" -> Harness.vmHwmMb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version))
    spark.stop()
  }
}

/** Shared plumbing: spans, timing, isolation between iterations. */
object Harness {
  @volatile var tracing = false
  private var recorder: SpanRecorder = null

  def spans(sc: org.apache.spark.SparkContext): SpanRecorder = {
    if (recorder == null) recorder = new SpanRecorder(sc)
    recorder
  }

  /** Run `body` inside a span of `layer` when the iteration is traced. */
  def span[T](spark: SparkSession, layer: String)(body: => T): T =
    if (tracing) spans(spark.sparkContext)(layer)(body) else body

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Free what an iteration left behind, so the next one neither reads
    * nor pays for it: checkpoint and cached blocks. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def vmHwmMb(): Double =
    Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)).getOrElse(0.0)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Raw iso-8859-1 CSV → landing → trusted → refined → catalog, plus a
  * Monitor audit over the layers, as one `Dag.run` per iteration. */
final class MedallionEtl(spark: SparkSession, o: Main.Opts) extends Workload {
  import Harness.span
  val ops = mutable.ArrayBuffer[Op]()
  val failures = mutable.ArrayBuffer[String]()
  val owed = mutable.LinkedHashMap[String, Seq[Row]]()

  val rawSchema: StructType = StructType(Seq(
    StructField("codigo", LongType), StructField("razao_social", StringType),
    StructField("nome_fantasia", StringType), StructField("uf", StringType),
    StructField("municipio", StringType), StructField("cnae", IntegerType),
    StructField("capital_social", DoubleType),
    StructField("data_abertura", StringType), StructField("email", StringType)))
  val trustedSchema: StructType = Medallion.trustedSchemaOf(rawSchema)
  private val clock = () => java.time.Instant.now.toString
  private val inputDir = o.data
  private var ledger, audit = Seq.empty[Row] // of the last iteration

  private def tag(i: Int) = if (i < 0) "warmup" else s"it$i"
  private def dirs(i: Int) = s"${o.work}/medallion/${tag(i)}"
  private def table(i: Int) = s"estabelecimentos_${tag(i)}"

  /** Rows conserved across layers and content equal to the expected
    * cleaned rows: `sum(xxhash64 >> 24)` over all columns. */
  private def digest(df: DataFrame): (Long, Long) = {
    val h = shiftright(xxhash64(trustedSchema.fieldNames.map(col).toIndexedSeq: _*), 24)
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** First touch: one untimed run of the whole chain, checked. */
  def setup(): Unit = {
    iteration(-1)
    check(-1)
    ops.clear()
  }

  def iteration(i: Int): Unit = {
    val d = dirs(i)
    Harness.deleteTree(new File(d))
    val traced = Harness.tracing
    def step(name: String, deps: Seq[String])(body: => (Long, Long)) =
      Dag.Step(name, deps, () => {
        val (r, ms) = Harness.timed(body)
        ops += Op("dag_step", name, ms, traced, i, Some(true))
        r
      })
    val steps = Seq(
      step("1_land", Nil) {
        val lines = span(spark, "sources.Landing") {
          val files = Landing.readBinary(spark, s"$inputDir/raw/*.csv")
          Landing.toLines(Landing.decodeText(files, "ISO-8859-1"))
        }
        span(spark, "sources.Landing") {
          lines.select(col("line")).write.text(s"$d/landing")
        }
        val n = span(spark, "sources.CsvIngest") {
          CsvIngest.read(spark, s"$d/landing", rawSchema).count()
        }
        (new File(s"$inputDir/raw").list().length.toLong, n)
      },
      step("2_trusted", Seq("1_land")) {
        span(spark, "pipeline.Medallion") {
          Medallion.rawToTrusted(spark, s"$d/landing", s"$d/trusted", rawSchema,
            "codigo")
        }
        (1L, span(spark, "sources.CsvIngest") {
          CsvIngest.read(spark, s"$d/trusted", trustedSchema,
            CsvIngest.trustedOptions).count()
        })
      },
      step("3_refined", Seq("2_trusted")) {
        span(spark, "pipeline.Medallion") {
          Medallion.trustedToRefined(spark, s"$d/trusted",
            s"$d/refined/estabelecimentos.parquet", trustedSchema)
        }
        val refined = span(spark, "sources.Tables") {
          Tables.load(spark, s"$d/refined", "estabelecimentos")
        }
        (refined.inputFiles.length.toLong, refined.count())
      },
      step("4_load", Seq("3_refined")) {
        val loaded = span(spark, "pipeline.Medallion") {
          Medallion.catalogLoad(spark,
            Tables.load(spark, s"$d/refined", "estabelecimentos"), table(i),
            s"load_audit_${tag(i)}", s"load-$i", "graftbench", clock)
        }
        (loaded.inputFiles.length.toLong, loaded.count())
      },
      step("5_audit", Seq("4_load")) {
        audit = span(spark, "pipeline.Monitor") {
          Monitor.audit(Seq(
            (CsvIngest.read(spark, s"$d/landing", rawSchema), "1_raw",
              "codigo", "municipio"),
            (CsvIngest.read(spark, s"$d/trusted", trustedSchema,
              CsvIngest.trustedOptions), "2_trusted", "codigo", "municipio"),
            (spark.read.parquet(s"$d/refined/estabelecimentos.parquet"),
              "3_refined", "codigo", "municipio"))).collect().toSeq
        }
        (0L, audit.length.toLong)
      })
    ledger = span(spark, "pipeline.Dag") {
      Dag.run(spark, steps, s"dag_ledger_${tag(i)}", s"run-$i", s"medallion-$i",
        clock).collect().toSeq
    }
  }

  def check(i: Int): Unit = {
    val d = dirs(i)
    val expected = spark.read.parquet(s"$inputDir/expected.parquet")
      .select(trustedSchema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
    val want = digest(expected)
    val problems = mutable.ArrayBuffer[String]()
    val stepRows = ledger.map(r => r.getAs[String]("step") -> r.getAs[Long]("qtd_rows")).toMap
    for (s <- Seq("1_land", "2_trusted", "3_refined", "4_load"))
      if (!stepRows.get(s).contains(want._1)) problems += s"$s rows ${stepRows.get(s)} != ${want._1}"
    audit.foreach { r =>
      if (r.getAs[Long]("n_rows") != want._1)
        problems += s"audit ${r.getString(0)} rows ${r.getAs[Long]("n_rows")} != ${want._1}"
    }
    val refined = digest(spark.read.parquet(s"$d/refined/estabelecimentos.parquet"))
    if (refined != want) problems += s"refined digest $refined != $want"
    val catalog = digest(spark.table(table(i)))
    if (catalog != want) problems += s"catalog digest $catalog != $want"
    if (problems.nonEmpty) {
      failures += s"iteration $i: ${problems.mkString("; ")}"
      ops.indices.filter(ops(_).iteration == i)
        .foreach(j => ops(j) = ops(j).copy(ok = Some(false)))
    }
    Seq(table(i), s"load_audit_${tag(i)}", s"dag_ledger_${tag(i)}")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Harness.deleteTree(new File(d))
  }
}

/** `Corpus.buildSummary` then `Corpus.attrition` over the documents
  * table; results go to the DuckDB oracles after the run. */
final class CorpusBuild(spark: SparkSession, o: Main.Opts) extends Workload {
  import Harness.span
  val ops = mutable.ArrayBuffer[Op]()
  val failures = mutable.ArrayBuffer[String]()
  val owed = mutable.LinkedHashMap[String, Seq[Row]]()
  private val dir = o.data
  private var last: Seq[(String, Seq[Row])] = Nil

  /** First touch: one untimed build over the same documents. */
  def setup(): Unit = {
    iteration(-1)
    ops.clear()
  }

  def iteration(i: Int): Unit = {
    val traced = Harness.tracing
    val docs = span(spark, "sources.Tables")(Tables.load(spark, dir, "documents"))
    last = Seq(
      "pipeline_corpus" -> (() => Corpus.buildSummary(docs)),
      "corpus_attrition" -> (() => Corpus.attrition(spark, docs))).map {
      case (key, f) =>
        val (rows, ms) = Harness.timed(span(spark, "operators.Corpus")(f().collect().toSeq))
        ops += Op("corpus", key, ms, traced, i, None)
        key -> rows
    }
  }

  def check(i: Int): Unit =
    last.foreach { case (key, rows) => owed(s"$key#$i") = rows }
}

/** Closed loop, one client: each round is a seeded permutation of a
  * fixed request mix, sent one at a time. */
final class QueryServe(spark: SparkSession, o: Main.Opts) extends Workload {
  import Harness.span
  val ops = mutable.ArrayBuffer[Op]()
  val failures = mutable.ArrayBuffer[String]()
  val owed = mutable.LinkedHashMap[String, Seq[Row]]()

  /** Aggregation, a six-table join and a window. */
  val SqlKeys = Seq("q1_agg", "q5_multi_join", "q7_window")
  val K = 5
  val KnnBatch = 8
  /** Requests per round by class: every SQL query once, kNN, BM25 and
    * the graph analysis once each, in a seeded order. */
  val Mix = Seq("sql" -> SqlKeys.size, "knn" -> 1, "text" -> 1, "graph" -> 1)

  private val rng = new Random(o.seed)
  private var nVecs = 0L
  private var candidates = 0
  private val pqPath = s"${o.work}/index/pq"
  private val firstResult = mutable.Map[String, Seq[Row]]()
  private val knnAnswers = mutable.ArrayBuffer[(Int, Seq[Long], Seq[Row])]()

  private def load(t: String) = span(spark, "sources.Tables")(Tables.load(spark, o.data, t))

  /** A server warms once and then serves many requests: the first
    * touch of every request class happens here; the kNN one builds the
    * PQ index. */
  def setup(): Unit = {
    nVecs = load("embeddings").count()
    candidates = Similarity.autoAdcCandidates(nVecs)
    Seq("sql" -> SqlKeys.head, "knn" -> "pq", "text" -> "bm25",
      "graph" -> "copurchase").foreach { case (c, k) =>
        val (_, ms) = Harness.timed(request(c, k, Seq(0L, 1L)))
        println(f"[graftbench] first touch $c/$k: $ms%.0f ms")
      }
    Harness.isolate(spark)
    ops.clear()
    knnAnswers.clear()
  }

  /** One request; returns its rows (already collected to the client). */
  private def request(cls: String, key: String, ids: Seq[Long]): Seq[Row] = cls match {
    case "sql" => span(spark, "operators.Relational") {
      Relational.queries(key)(spark, o.data).collect().toSeq
    }
    case "knn" =>
      val vecs = load("embeddings")
      val pred = col("vec_id").isin(ids: _*)
      span(spark, "operators.Similarity") {
        Similarity.knnPqServe(vecs, pred, pqPath, K, candidates)
          .select(col("query_id"), col("neighbor_id"), col("rank")).collect().toSeq
      }
    case "text" =>
      val docs = load("documents")
      span(spark, "operators.TextAnalysis")(TextAnalysis.bm25TopK(docs).collect().toSeq)
    case "graph" =>
      val (orders, lineitem) = (load("orders"), load("lineitem"))
      span(spark, "operators.Graph") {
        val edges = Graph.coPurchaseEdges(orders, lineitem)
        val pr = Graph.pageRank(edges).collect().toSeq
        val cc = Graph.connectedComponents(
          edges.select(col("src").as("a"), col("dst").as("b"))).collect().toSeq
        pr.map(r => Row("pagerank", r)) ++ cc.map(r => Row("cc", r))
      }
  }

  def iteration(i: Int): Unit = {
    val traced = Harness.tracing
    val sql = SqlKeys.iterator
    val round = rng.shuffle(Mix.flatMap { case (c, n) => Seq.fill(n)(c) }).map {
      case "sql" => "sql" -> sql.next()
      case "knn" => "knn" -> "pq"
      case "text" => "text" -> "text_bm25"
      case c => c -> "graph_pagerank"
    }
    round.foreach { case (cls, key) =>
      val ids = if (cls == "knn") Seq.fill(KnnBatch)(rng.nextLong(nVecs)).distinct else Nil
      val (rows, ms) = Harness.timed(request(cls, key, ids))
      ops += Op(cls, key, ms, traced, i, None)
      if (cls == "knn") knnAnswers += ((ops.size - 1, ids, rows))
      else firstResult.get(key) match {
        case None => firstResult(key) = rows
        case Some(first) if first != rows =>
          failures += s"$key answer changed between requests (op ${ops.size - 1})"
          ops(ops.size - 1) = ops.last.copy(ok = Some(false))
        case _ =>
      }
    }
  }

  def check(i: Int): Unit = ()

  /** Exact top-k per query from `Similarity.knnBrute`, one job for all
    * the ids the run asked about; the graph/text/sql first answers go
    * to DuckDB. */
  override def finish(): Unit = {
    if (knnAnswers.nonEmpty) {
      val ids = knnAnswers.flatMap(_._2).distinct
      val brute = Similarity.knnBrute(Tables.load(spark, o.data, "embeddings"),
        col("vec_id").isin(ids.toSeq: _*), K).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq }
      var hits, total = 0L
      knnAnswers.foreach { case (j, qs, rows) =>
        val got = rows.groupBy(_.getAs[Long]("query_id"))
          .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")) }
        val ok = qs.forall(q => got.get(q).contains(brute(q)))
        qs.foreach(q => { total += K; hits += got.getOrElse(q, Nil).count(brute(q).contains) })
        ops(j) = ops(j).copy(ok = Some(ok))
        if (!ok) failures += s"knn op $j (${ops(j).key}) differs from knnBrute"
      }
      owed("recall_at_k") = Seq(Row(hits.toDouble / math.max(1L, total)))
    }
    firstResult.foreach {
      case ("graph_pagerank", rows) =>
        owed("graph_pagerank") = rows.filter(_.getString(0) == "pagerank").map(_.getStruct(1))
        owed("copurchase_cc") = rows.filter(_.getString(0) == "cc").map(_.getStruct(1))
      case (key, rows) => owed(key) = rows
    }
  }
}

/** Minimal JSON writer for the harness result (no JSON library is a
  * declared dependency of the benchmark). */
object Json {
  /** Rows as {"columns": names, "rows": values}; the oracle compare
    * matches columns by name. */
  def rows(rs: Seq[Row]): Map[String, Any] = Map(
    "columns" -> rs.headOption.flatMap(r => Option(r.schema))
      .map(_.fieldNames.toSeq).getOrElse(Nil),
    "rows" -> rs.map(r => r.toSeq.map(value)))

  private def value(v: Any): Any = v match {
    case t: java.sql.Timestamp => Map("ts_us" -> (t.getTime * 1000L + (t.getNanos / 1000) % 1000))
    case t: java.time.Instant => Map("ts_us" -> (t.getEpochSecond * 1000000L + t.getNano / 1000))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: java.math.BigDecimal => Map("dec" -> b.toPlainString)
    case r: Row => r.toSeq.map(value)
    case s: scala.collection.Seq[_] => s.map(value)
    case other => other
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8))
}
