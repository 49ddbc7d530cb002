package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Similarity, TextOps}
import graft.pipeline.CapstoneEtl

/** One benchmark run in one JVM:
  *
  *   java -cp <classes> graftbench.Main --workload W --seed N --seconds S
  *        --trace 0|1 --work DIR --out FILE
  *
  * Set-up generates the workload's inputs from the seed (and, for
  * index_serve, builds the stores) into fresh dirs under `--work`,
  * more than once so its median can be reported. A fixed number of
  * untimed warm-up passes follows, then the timed phase runs for
  * `--seconds`. The raw samples, counters, output checks and (with
  * tracing on) spans go to `--out` as JSON; `run.py` turns them into
  * metrics.
  *
  * The warm-up exists because the JIT takes several passes to settle:
  * on a 4-vCPU VM successive star_etl passes took 11, 5.4, 4.7, 4.3,
  * 3.8 s. Timing the first two passes, as a mean, let the JIT's
  * progress decide the result; the median of the passes after a fixed
  * warm-up does not.
  *
  * `--digest` instead generates the workload's inputs (`--workload all`:
  * every workload's) twice with the seed and once with the next seed,
  * and prints the SHA-256 of each generation's bytes.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        digest: Boolean, train: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m.getOrElse("--seconds", "10").toDouble,
      m.getOrElse("--trace", "0") == "1", m("--work"), m.getOrElse("--out", ""),
      a.contains("--digest"), a.contains("--train"))
  }

  def workload(spark: SparkSession, args: Args): Workload = args.workload match {
    case "star_etl" => new StarEtl(spark, args)
    case "index_serve" => new IndexServe(spark, args)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    // half the CPUs run tasks; the rest are left to the driver thread,
    // the JIT compiler and GC. On a 4-vCPU VM, star_etl's median pass
    // over five seeds ranged 4.0-6.0 s with local[4], and 4.2-4.6 s
    // with local[2].
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() / 2).toString
    val work = new File(args.work).getAbsoluteFile
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      if (args.train) {
        // class-loading run for the class-data sharing archive: a small
        // star_etl set-up and pass loads most of Spark SQL, parquet and
        // the shuffle path, which every workload shares
        val w = new StarEtl(spark, args, replicas = 1)
        w.dataDir = s"${w.work}/train"
        w.setup(w.dataDir)
        w.pass()
        return
      }
      if (args.digest) {
        // per workload: the digest of two generations with the seed,
        // then one with the next seed
        val names = if (args.workload == "all") Seq("star_etl", "index_serve")
                    else Seq(args.workload)
        for (name <- names) {
          val ds = Seq("a" -> args.seed, "b" -> args.seed, "c" -> (args.seed + 1)).map {
            case (tag, seed) =>
              val a = args.copy(workload = name, seed = seed)
              Io.digest(new File(workload(spark, a).generate(s"${args.work}/$name-$tag")))
          }
          println(s"digest $name ${ds.mkString(" ")}")
        }
      } else {
        val res = workload(spark, args).run(sessionS)
        Files.write(Paths.get(args.out), res.getBytes("UTF-8"))
      }
    } finally spark.stop()
  }
}

/** Shared run skeleton: repeated set-up, timed phase with checks,
  * JSON out.
  */
abstract class Workload(val spark: SparkSession, val args: Main.Args) {
  val trace = new Trace(spark.sparkContext, args.trace)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  val work: String = new File(args.work).getAbsolutePath
  val parts: Int = Runtime.getRuntime.availableProcessors()
  /** The set-up whose inputs (and stores) the timed phase uses. */
  var dataDir: String = _

  /** How many times set-up runs; setup_s takes the median. */
  def setupReps: Int = 2
  /** Untimed warm-up passes before the timed phase. */
  def warmupOps: Int
  /** Writes the seeded inputs under `dir`; returns the dir. */
  def generate(dir: String): String
  /** Set-up the program pays before serving: by default just the inputs. */
  def setup(dir: String): Unit = generate(dir)
  /** The timed phase, then the output checks. */
  def timed(): Unit

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** Times one attempted operation, in ms; a thrown op is a failure. */
  def timedOp[A](kind: String)(body: => A): Option[A] = {
    attempted += 1
    trace.op()
    val t0 = System.nanoTime()
    try {
      val r = trace.span(s"op.$kind")(body)
      sample(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[graftbench] $kind failed: $e")
        None
    }
  }

  /** Runs `op` untimed `warmupOps` times, so the timed phase starts
    * with the JIT past its steepest part. A count, not a time: the JIT's
    * progress follows the passes it has seen. Walls go to the `warmup`
    * samples; a traced run records no spans for them.
    */
  def warmup(op: => Unit): Unit = {
    trace.muted = true
    try (0 until warmupOps).foreach(_ => timedOp("warmup")(op))
    finally trace.muted = false
  }

  /** Runs `op` until `args.seconds` have passed, at least `min` times. */
  def loop(min: Int)(op: => Unit): Unit = {
    val end = System.nanoTime() + (args.seconds * 1e9).toLong
    var n = 0
    while (n < min || System.nanoTime() < end) { op; n += 1 }
  }

  def run(sessionS: Double): String = {
    val setupS = (0 until setupReps).map { i =>
      val t0 = System.nanoTime()
      setup(s"$work/setup-$i")
      (System.nanoTime() - t0) / 1e9
    }
    // the last set-up serves the timed phase; the others stay until it
    // ends, as scratch copies a warm-up may change
    dataDir = s"$work/setup-${setupReps - 1}"
    val t0 = System.nanoTime()
    timed()
    val timedS = (System.nanoTime() - t0) / 1e9
    (0 until setupReps - 1).foreach(i => Io.rmrf(s"$work/setup-$i"))
    Io.json(Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "session_s" -> sessionS, "setup_rep_s" -> setupS, "timed_s" -> timedS,
      "attempted" -> attempted, "failed" -> failed,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "counters" -> counters.toMap,
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "spans" -> Io.Raw(if (args.trace) trace.toJson else "[]")))
  }
}

// ------------------------------------------------------------------ star_etl

/** The reference pipeline at scale: immigration fact + port
  * demographics + partitioned star-schema write, over stored inputs.
  */
final class StarEtl(spark: SparkSession, args: Main.Args, replicas: Int = 2)
    extends Workload(spark, args) {
  def warmupOps: Int = 3
  var truth: Gen.StarTruth = _

  def generate(dir: String): String = {
    truth = Gen.writeStarInputs(spark, args.seed, replicas, parts, dir)
    dir
  }

  private var iter = 0
  /** One pipeline pass into a fresh output dir; returns the dir. */
  def pass(): String = {
    val out = s"$work/star-out-$iter"
    iter += 1
    val t = trace
    def load(n: String) = t.span("sources.load")(Tables.load(spark, dataDir, n))
    val imm = load("immigration")
    val dims = Seq("country", "port", "state", "mode", "visa_type").map(n => n -> load(n)).toMap
    val demo = load("demographics")
    val fact = t.span("pipeline.immigration_fact")(CapstoneEtl.immigrationFact(spark, imm,
      dims("country"), dims("port"), dims("state"), dims("mode"), dims("visa_type")))
    val portDemo = t.span("pipeline.port_demographics")(
      CapstoneEtl.portDemographics(spark, CapstoneEtl.cleanDemographics(demo), dims("port")))
    t.span("pipeline.write_star_schema")(
      CapstoneEtl.writeStarSchema(fact, portDemo, dims, out))
    out
  }

  def timed(): Unit = {
    counters("input_rows") = truth.rows
    counters("input_bytes") = Io.size(new File(dataDir))
    var last = ""
    def keep(out: String): Unit = { Io.rmrf(last); last = out }
    warmup(keep(pass()))
    loop(min = 3) {
      timedOp("etl")(pass()).foreach { out =>
        val f = new File(out)
        sample("output_bytes", Io.size(f).toDouble)
        sample("files_written", Io.files(f).toDouble)
        keep(out)
      }
    }
    if (last.nonEmpty) verify(last)
    Io.rmrf(last)
  }

  /** The written fact holds exactly the generator's valid rows, and
    * their admission numbers survive the partitioned round trip.
    */
  def verify(out: String): Unit = {
    val r = spark.read.parquet(s"$out/immigrations")
      .agg(count(lit(1)), sum(col("admission_number").cast("long"))).head()
    check("fact_rows_equal_valid_rows", r.getLong(0) == truth.validRows,
      s"fact has ${r.getLong(0)} rows, generator made ${truth.validRows} valid")
    check("admission_sum_round_trips", r.getLong(1) == truth.validAdmnumSum,
      s"sum(admission_number) ${r.getLong(1)} != input ${truth.validAdmnumSum}")
  }
}

// ------------------------------------------------------------------ index_serve

/** Closed loop, one client: append batches interleaved with blocks of
  * hybrid probes on the lexical + IVF stores, then compaction and
  * probes after it.
  */
final class IndexServe(spark: SparkSession, args: Main.Args) extends Workload(spark, args) {
  val nDocs = 2000L
  def warmupOps: Int = 2
  val nBatches = 2
  val queriesPerProbe = 10
  val half: Long = nDocs / 2
  /** Each append batch is 1/8 of the corpus. */
  val batchRows: Long = nDocs / 8

  def generate(dir: String): String = {
    Gen.writeServeInputs(spark, args.seed, nDocs, parts, dir)
    dir
  }

  def docs(dir: String): DataFrame = Tables.load(spark, dir, "documents")
  def vecs(dir: String): DataFrame = Tables.load(spark, dir, "embeddings")
  /** Rows of the init half (b = -1) or of append batch b: batch b is a
    * seeded 1/8 of the corpus drawn from the other half.
    */
  val batchOffset: Long = Gen.u(args.seed, -5, 0, 4)
  def slice(df: DataFrame, idCol: String, b: Int): DataFrame =
    if (b < 0) df.filter(col(idCol) < half)
    else df.filter(col(idCol) >= half && pmod(col(idCol) + batchOffset, lit(4L)) === b)

  override def setup(dir: String): Unit = {
    generate(dir)
    trace.span("ext.textops.bm25_index_init")(
      TextOps.bm25IndexInit(slice(docs(dir), "doc_id", -1), s"$dir/lex"))
    trace.span("ext.similarity.ivf_index_store_init")(
      Similarity.ivfIndexStoreInit(slice(vecs(dir), "vec_id", -1), s"$dir/ann"))
  }

  private var probeNo = 0L
  /** Seeded query ids for the next probe, drawn from the init half. */
  def nextQueries(): Seq[Long] = {
    probeNo += 1
    (0 until queriesPerProbe).map(i => Gen.u(args.seed, probeNo * 64 + i, 90, half))
  }

  def queryDocs(ids: Seq[Long]): DataFrame =
    docs(dataDir).filter(col("doc_id").isin(ids: _*)).select("doc_id", "text")
  def queryVecs(ids: Seq[Long]): DataFrame =
    vecs(dataDir).filter(col("vec_id").isin(ids: _*))

  /** The live lexical store under the data dir: compaction may move it. */
  var lexRel = "lex"

  def probe(ids: Seq[Long]): Seq[Row] =
    trace.span("ext.textops.hybrid_rrf_store_top_docs")(
      TextOps.hybridRrfStoreTopDocs(queryDocs(ids), queryVecs(ids),
        s"$dataDir/$lexRel", s"$dataDir/ann").collect().toSeq)

  /** Traced runs also time the two arms alone, on the same queries. */
  def arms(ids: Seq[Long]): Unit = if (args.trace) {
    trace.op()
    trace.span("op.arms") {
      trace.span("ext.textops.bm25_store_query_arm")(
        TextOps.bm25StoreQueryArm(spark, queryDocs(ids), s"$dataDir/$lexRel").collect())
      trace.span("ext.similarity.ivf_index_store_probe")(
        Similarity.ivfIndexStoreProbe(spark, queryVecs(ids), s"$dataDir/ann", k = 10).collect())
    }
  }

  def append(b: Int): Unit = {
    trace.span("ext.textops.bm25_index_append")(
      TextOps.bm25IndexAppend(spark, slice(docs(dataDir), "doc_id", b), s"$dataDir/lex"))
    trace.span("ext.similarity.ivf_index_store_append")(
      Similarity.ivfIndexStoreAppend(spark, slice(vecs(dataDir), "vec_id", b), s"$dataDir/ann"))
  }

  def storeBytes(): Long =
    Io.size(new File(dataDir, lexRel)) + Io.size(new File(dataDir, "ann"))

  def timed(): Unit = {
    // warm the append and probe paths on the first set-up's stores, so
    // the timed phase starts on untouched ones
    val live = dataDir
    dataDir = s"$work/setup-0"
    var n = 0
    warmup { append(n % nBatches); n += 1; probe(nextQueries()) }
    dataDir = live
    val bytes0 = storeBytes()
    // nBatches append slices, then one slice after compaction. Each
    // slice makes the same number of probes, one per 5 s of --seconds,
    // so every run's median mixes the store states in the same
    // proportions.
    val perSlice = math.max(1, math.round(args.seconds / 5).toInt)
    var lastProbe: (Seq[Long], Seq[Row]) = null
    def probes(first: Option[Seq[Long]] = None): Unit =
      for (i <- 0 until perSlice) {
        val ids = if (i == 0) first.getOrElse(nextQueries()) else nextQueries()
        timedOp("probe")(probe(ids)).foreach { r =>
          if (lastProbe != null && ids == lastProbe._1)
            check("probes_equal_after_compaction", r == lastProbe._2,
              s"before ${lastProbe._2.take(3)} after ${r.take(3)}")
          lastProbe = (ids, r)
        }
        arms(ids)
      }
    for (b <- 0 until nBatches) {
      val before = storeBytes()
      timedOp("append")(append(b)).foreach { _ =>
        sample("append_rows", batchRows.toDouble)
        sample("append_bytes_written", (storeBytes() - before).toDouble)
      }
      probes()
    }
    val ingested = half + batchRows * nBatches
    counters("store_files") = Io.files(new File(dataDir, "lex")) + Io.files(new File(dataDir, "ann"))
    counters("store_bytes_before_appends") = bytes0
    counters("store_bytes_before_compact") = storeBytes()
    counters("appended_input_bytes") = inputBytes(batchRows * nBatches)
    counters("live_input_bytes") = inputBytes(ingested)
    val ivfRows = Similarity.ivfIndexStoreLiveAssignments(spark, s"$dataDir/ann").count()
    check("ivf_rows_equal_ingested", ivfRows == ingested,
      s"IVF store holds $ivfRows rows, $ingested vectors ingested")

    // compaction, then probes again: the first repeats the last query
    // set, whose answer must not change
    timedOp("compact") {
      val live = trace.span("ext.textops.bm25_index_compact")(
        TextOps.bm25IndexCompact(spark, s"$dataDir/lex"))
      lexRel = new File(dataDir).toPath.relativize(new File(live).toPath).toString
      trace.span("ext.similarity.ivf_index_store_compact")(
        Similarity.ivfIndexStoreCompact(spark, s"$dataDir/ann"))
    }
    probes(Some(lastProbe._1))
    if (!checks.exists(_._1 == "probes_equal_after_compaction"))
      check("probes_equal_after_compaction", ok = false, "no probe answered after compaction")
    counters("store_bytes_after_compact") = storeBytes()

    // the appended-then-compacted lexical store ranks like a fresh
    // build over the same docs (the union-build law)
    val ids = lastProbe._1
    TextOps.bm25IndexInit(docs(dataDir).filter(col("doc_id") < half ||
      pmod(col("doc_id") + batchOffset, lit(4L)) < nBatches), s"$work/fresh-lex")
    val incr = lexArm(ids, s"$dataDir/$lexRel")
    val full = lexArm(ids, s"$work/fresh-lex")
    check("lex_append_equals_fresh_init", incr == full,
      s"incremental ${incr.take(5)} vs fresh ${full.take(5)}")
    Io.rmrf(s"$work/fresh-lex")
  }

  /** Input bytes of `rows` corpus rows (documents + embeddings), pro rata. */
  def inputBytes(rows: Long): Long =
    (Io.size(new File(dataDir, "documents.parquet")) +
      Io.size(new File(dataDir, "embeddings.parquet"))) * rows / nDocs

  def lexArm(q: Seq[Long], dir: String): Seq[Row] =
    TextOps.bm25StoreQueryArm(spark, queryDocs(q), dir)
      .orderBy("query_id", "lex_rnk").collect().toSeq
}

// ------------------------------------------------------------------ io

object Io {
  final case class Raw(json: String)

  def rmrf(p: String): Unit = rmrf(new File(p))
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
  /** Data files only: Spark's checksums and markers are not payload. */
  private def data(f: File): Seq[File] =
    walk(f).filter(x => !x.getName.startsWith(".") && !x.getName.startsWith("_"))
  def size(f: File): Long = data(f).map(_.length).sum
  def files(f: File): Long = data(f).size.toLong

  /** SHA-256 over every data file's relative path (with Spark's random
    * per-write file id removed) and bytes, in path order.
    */
  def digest(root: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val base = root.toPath
    data(root).map { f =>
      val rel = base.relativize(f.toPath).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1")
      rel -> f
    }.sortBy(_._1).foreach { case (rel, f) =>
      md.update(rel.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def json(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}
