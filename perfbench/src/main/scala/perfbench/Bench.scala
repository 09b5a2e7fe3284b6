package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}
import graft.core.{Exec, Session}
import graft.ext.{Graph, Profile}
import graft.io.{AggView, Insert, Load, ManifestDml, ManifestTable, Unload}
import graft.schema.Infer
import graft.streaming.{NearDupIndex, Stream}

/** One operation of the closed loop: its round (-1 = warm-up), kind,
  * class (commit or read), the generated input it consumed (a path
  * under the input directory, empty for none), interval, outcome, and
  * the Hadoop filesystem bytes the process read and wrote while it ran. */
final case class Sample(round: Int, kind: String, cls: String, input: String,
    t0: Double, t1: Double, ok: Boolean, fsRead: Long, fsWritten: Long, error: String)

/** The benchmark client: one process, one caller, each operation
  * starting after the previous one returns. It builds the session, runs
  * the amount of work `seconds` stands for, records what the program
  * returned, and leaves every judgement (metrics, correctness) to
  * `run.py`. */
final class Bench(workload: String, in: String, work: String, seed: Long,
    seconds: Double, traced: Boolean, cores: Int) {

  val clock = new Clock
  val tracer = new Tracer(traced, clock)
  val jobLog = new JobLog(clock)
  val samples = ArrayBuffer.empty[Sample]
  val setupS = ArrayBuffer.empty[Double]
  val observed = LinkedHashMap.empty[String, Any]
  private val warehouse = s"$work/warehouse"
  private var spark: SparkSession = _
  private var round = -1

  /** Warm set-ups per run, after one cold one; the run reports their
    * median. A warm set-up is about 0.1 s on etl and neardup, 1.5 s on
    * lakehouse, so the cheap ones repeat more. */
  private val EtlSetups = 25
  private val NearDupSetups = 25
  private val LakeSetups = 3
  private val PageRankIterations = 3
  /** Seconds of `--seconds` one measured unit stands for: about the
    * unit's time at `local[3]`, except etl's round, which takes about
    * 8 s but is charged 4 s, so that a run measures three rounds: with
    * two, its read tail spread over ten seeds reached its bound. */
  private val EtlRoundS = 4.0
  private val NearDupArrivalS = 4.8
  private val LakeCycleS = 11.5

  def run(): Map[String, Any] = {
    workload match {
      case "etl_roundtrip"   => etl()
      case "neardup_ingest"  => neardup()
      case "lakehouse_mixed" => lakehouse()
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) Thread.sleep(1000) // let the listener bus deliver the last events
    val jobs = jobLog.synchronized(jobLog.jobs.map(j => Map(
      "id" -> j.id, "t0" -> j.t0, "t1" -> j.t1, "input_bytes" -> j.inputBytes,
      "input_records" -> j.inputRecords, "output_bytes" -> j.outputBytes,
      "shuffle_bytes" -> j.shuffleBytes, "cpu_ns" -> j.cpuNs)).toList)
    val sql = jobLog.synchronized(jobLog.sqlStarts.toList)
    spark.stop()
    Map("setup_s" -> setupS.toList, "samples" -> samples.toList,
      "spans" -> tracer.spans.toList, "jobs" -> jobs,
      "sql_starts" -> sql.map(s => List(s._1, s._2)), "observed" -> observed)
  }

  /** Run `body` as one timed operation. A thrown operation is recorded
    * as failed with its error and never as a timed success. */
  private def timed[A](kind: String, cls: String, input: String = "")(body: => A): Option[A] = {
    val (r0, w0, t0) = (FsBytes.read, FsBytes.written, clock.now)
    def record(ok: Boolean, err: String) = samples += Sample(round, kind, cls, input,
      t0, clock.now, ok, FsBytes.read - r0, FsBytes.written - w0, err)
    try {
      val r = tracer.op(kind)(body)
      record(ok = true, "")
      Some(r)
    } catch {
      case e: Throwable =>
        record(ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Build the session and prepare the program once cold (class loading,
    * not reported) and then `warm` times; keep the last session. Only the
    * benchmark's own bookkeeping happens outside the measured interval. */
  private def setUp(warm: Int)(prep: () => Unit): Unit = {
    for (k <- 0 to warm) {
      val t0 = clock.now
      spark = tracer.span("core.Session.build") {
        Session.build(master = s"local[$cores]", appName = "perfbench",
          extraConf = Map("spark.sql.warehouse.dir" -> warehouse,
            "spark.local.dir" -> s"$work/spark-local"))
      }
      prep()
      if (k > 0) setupS += clock.now - t0
      if (k < warm) {
        spark.stop()
        deleteTree(new File(warehouse))
      }
    }
    if (traced) spark.sparkContext.addSparkListener(jobLog)
  }

  /** A warm-up round first (JIT, codegen, first-touch of every code
    * path), then `units` measured rounds. */
  private def loop(units: Int)(warmUp: => Unit)(body: => Unit): Unit = {
    round = -1
    tracer.paused = true
    warmUp
    tracer.paused = false
    for (r <- 0 until units) { round = r; body }
  }

  /** `--seconds` fixes the amount of work, not a deadline: the number
    * of measured rounds that take about that long at `local[3]`.
    * Parent and child commits then measure the same work. */
  private def unitsFor(nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)

  private def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)

  // ------------------------------------------------------------------
  // etl_roundtrip: load → insert → queries + ext → unload

  private def etl(): Unit = {
    val li = "bench_lineitem"
    val od = "bench_orders"
    var exec: Exec = null
    setUp(EtlSetups) { () =>
      Seq(li, od).foreach(Load.dropManaged(spark, _))
      exec = new Exec(spark)
    }
    val queries = Seq(
      "agg" -> s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
                   sum(l_extendedprice) FROM $li GROUP BY 1, 2 ORDER BY 1, 2""",
      "join" -> s"""SELECT o_orderpriority, count(*), sum(l_quantity)
                    FROM $li JOIN $od ON l_orderkey = o_orderkey
                    WHERE o_orderdate < DATE'1995-01-01' GROUP BY 1 ORDER BY 1""",
      "topk" -> s"""SELECT l_suppkey, q FROM (
                      SELECT l_suppkey, q, row_number() OVER (ORDER BY q DESC, l_suppkey) AS rk
                      FROM (SELECT l_suppkey, sum(l_quantity) AS q FROM $li GROUP BY l_suppkey))
                    WHERE rk <= 10 ORDER BY rk""",
      "scan" -> s"""SELECT count(*), sum(l_quantity) FROM $li
                    WHERE l_shipdate BETWEEN DATE'1995-01-01' AND DATE'1995-06-30'
                      AND l_discount >= 0.05""",
      "lines" -> s"SELECT l_linenumber, count(*) FROM $li GROUP BY 1 ORDER BY 1")
    val unloadSql =
      s"SELECT l_orderkey, l_linenumber, l_quantity FROM $li WHERE l_shipmode = 'AIR'"
    val exportFile = s"$work/export/lineitem_air.csv"
    val perRound = ArrayBuffer.empty[Map[String, Any]]

    def oneRound(csv: String): Unit = {
      timed("load", "commit", csv.stripPrefix(s"$in/")) {
        tracer.span("io.Load.loadAndCopy") {
          Load.loadAndCopy(spark, csv, li, options = Map("field_delimiter" -> "|"),
            header = true, mode = SaveMode.Overwrite)
        }
      }
      if (traced) tracer.op("infer") {
        tracer.span("schema.Infer.inferSchema") {
          Infer.inferSchema(spark.read.option("sep", "|").option("header", "true").csv(csv))
        }
      }
      Load.dropManaged(spark, od)
      timed("insert", "commit", "orders.parquet") {
        tracer.span("io.Insert.insertDataFrame") {
          Insert.insertDataFrame(spark, spark.read.parquet(s"$in/orders.parquet"), od,
            create = true)
        }
      }
      val answers = queries.map { case (name, q) =>
        name -> timed("query", "read") {
          tracer.span("core.Exec.execute")(exec.execute(q))
          tracer.span("core.Exec.fetch")(exec.toDataFrame().map(df => rows(df.collect())))
        }.flatten.orNull
      }
      val pagerank = timed("pagerank", "read") {
        tracer.span("ext.Graph.pageRank") {
          val edges = spark.table(li)
            .where(pmod(col("l_orderkey"), lit(16)) === lit(seed % 16))
            .select(col("l_suppkey").as("src"), (col("l_partkey") + 1000000L).as("dst"))
          Graph.pageRank(edges, iterations = PageRankIterations).collect()
        }
      }.map { rs =>
        val ranks = rs.map(_.getDouble(1))
        Map("nodes" -> rs.length, "rank_sum" -> ranks.sum,
          "top" -> ranks.sorted(Ordering[Double].reverse).take(5).toSeq)
      }.orNull
      val describe = timed("describe", "read") {
        tracer.span("ext.Profile.describe") {
          rows(Profile.describe(spark.table(li), Seq("l_quantity")).collect())
        }
      }.orNull
      deleteTree(new File(s"$work/unload_raw"))
      deleteTree(new File(exportFile))
      timed("unload", "commit") {
        tracer.span("io.Unload.unloadAndCopy") {
          Unload.unloadAndCopy(spark, unloadSql, s"$work/unload_raw", Some(exportFile))
        }
      }
      if (round >= 0) perRound += Map("round" -> round, "queries" -> answers.toMap,
        "pagerank" -> pagerank, "describe" -> describe)
    }

    // the warm-up loads one of the eight files
    loop(unitsFor(EtlRoundS))(oneRound(s"$in/lineitem_csv/part-00.csv.gz"))(
      oneRound(s"$in/lineitem_csv"))
    observed("per_round") = perRound.toList
    def table(t: String) = {
      val df = spark.table(t)
      val numeric = df.schema.fields.filter(f =>
        Set("bigint", "double")(f.dataType.simpleString)).map(_.name)
      Map("types" -> df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap,
        "rows" -> df.count(),
        "sums" -> numeric.zip(df.agg(sum(numeric.head), numeric.tail.map(sum): _*)
          .head().toSeq).toMap)
    }
    observed("lineitem") = table(li)
    observed("orders") = table(od)
    observed("export_file") = exportFile
    observed("export_bytes") = new File(exportFile).length
    observed("pagerank_iterations") = PageRankIterations
  }

  // ------------------------------------------------------------------
  // neardup_ingest: one file arrives, one AvailableNow ingest, three reads

  private def neardup(): Unit = {
    val arrivals = new File(s"$in/arrivals").listFiles().map(_.getName).sorted.toSeq
    val lookupIds = scala.io.Source.fromFile(s"$in/lookups.tsv").getLines()
      .map(_.split("\t").toSeq.map(_.toLong)).toVector
    var exec: Exec = null
    setUp(NearDupSetups)(() => exec = new Exec(spark))
    val batches = ArrayBuffer.empty[Map[String, Any]]

    def episode(name: String, files: Seq[String]): Unit = {
      val dir = new File(s"$work/nd/$name/in")
      val ckpt = s"$work/nd/$name/checkpoint"
      val table = s"bench_$name"
      val root = new org.apache.hadoop.fs.Path(warehouse, s"${table}__corpus").toString
      dir.mkdirs()
      for ((f, a) <- files.zipWithIndex) {
        Files.copy(new File(s"$in/arrivals/$f").toPath, new File(dir, f).toPath,
          StandardCopyOption.REPLACE_EXISTING)
        val ingested = timed("batch", "commit", s"arrivals/$f") {
          tracer.span("streaming.Stream.runNearDupDir") {
            Stream.runNearDupDir(spark, dir.toString, ckpt, table)
          }
        }
        def query(sql: String) = timed("corpus_read", "read") {
          tracer.span("core.Exec.execute")(exec.execute(sql))
          tracer.span("core.Exec.fetch")(exec.toDataFrame().map(df => rows(df.collect())))
        }.flatten
        val corpus = query(s"SELECT count(*), sum(doc_id) FROM $table")
        // one fresh and one near-duplicate document of this arrival
        val lookups = lookupIds(a).map(id =>
          query(s"SELECT count(*) FROM $table WHERE doc_id = $id").map(_.head.head))
        val roots = if (traced) tracer.op("probe") {
          tracer.span("streaming.NearDupIndex.indexRoots") {
            NearDupIndex.indexRoots(spark, root).size
          }
        } else -1
        batches += Map("episode" -> name, "round" -> round, "arrival" -> a,
          "ingested" -> ingested.orNull, "corpus" -> corpus.map(_.head).orNull,
          "lookups" -> lookups.map(_.orNull),
          "index_roots" -> roots)
      }
      if (round >= 0) observed("episode") = Map(
        "corpus_segments" -> ManifestTable.segments(spark, root).size,
        "checkpoint_files" -> countFiles(new File(ckpt)))
      Stream.dropNearDup(spark, table)
    }

    // one episode from an empty corpus; its length is the unit of work
    val n = math.min(arrivals.size, unitsFor(NearDupArrivalS))
    observed("arrivals_per_episode") = n
    loop(1)(episode("warm", arrivals.take(1)))(episode("e1", arrivals.take(n)))
    observed("batches") = batches.toList
  }

  // ------------------------------------------------------------------
  // lakehouse_mixed: a seeded log of small commits and reads on one table

  private def lakehouse(): Unit = {
    val cols = Seq("event_id", "user_id", "ts", "event_type", "value")
    val ops = scala.io.Source.fromFile(s"$in/ops.tsv").getLines().map(_.split("\t")).toVector
    val cycles = ops.map(_(0).toInt).distinct
    // roots under the session's (qualified) warehouse dir, as the SQL
    // surface builds them: ManifestDml.mergeInto/deleteWhere reject a
    // scheme-less root (segOf offsets input_file_name() by the length
    // of the qualified root), while append and readPoint accept one
    def under(name: String) = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name).toString
    def root = under("bench_events")
    def view = under("bench_events_by_type")
    val spec = AggView.spec("event_type").count("n").sum("value", "s")
    def append(file: String) = ManifestTable.append(spark, root,
      spark.read.parquet(s"$in/rows/$file"), statsCols = Seq("ts"), bloomCols = Seq("event_id"))
    setUp(LakeSetups) { () =>
      append("initial.parquet")
      // the view's change feed reads pre-images of rewritten segments
      ManifestTable.setRetainVersions(spark, root, 64)
      AggView.syncFromLog(spark, view, root, spec)
    }
    val reads = ArrayBuffer.empty[Map[String, Any]]
    val probes = ArrayBuffer.empty[Map[String, Any]]
    var done = 0

    def runOp(op: Array[String]): Unit = {
      val (kind, file) = (op(1), op(2))
      kind match {
        case "append" => timed(kind, "commit", s"rows/$file") {
            tracer.span("io.manifest.ManifestTable.append")(append(file))
          }
        case "merge" => timed(kind, "commit", s"rows/$file") {
            tracer.span("io.manifest.ManifestDml.mergeInto") {
              val set = cols.map(c => c -> col(s"__s.$c"))
              ManifestDml.mergeInto(spark, root, spark.read.parquet(s"$in/rows/$file"),
                col("__t.event_id") === col("__s.event_id"),
                matched = Seq(ManifestDml.MergeUpdate(None, set)),
                notMatched = Seq(ManifestDml.MergeInsert(None, set)),
                notMatchedBySource = Nil)
            }
          }
        case "delete" => timed(kind, "commit") {
            tracer.span("io.manifest.ManifestDml.deleteWhere") {
              ManifestDml.deleteWhere(spark, root, col("user_id") === lit(op(3).toLong))
            }
          }
        case "optimize" => timed(kind, "commit") {
            tracer.span("io.manifest.ManifestTable.optimize") {
              ManifestTable.optimize(spark, root, smallBytes = 1L << 20)
            }
          }
        case "point_read" =>
          val id = op(4).toLong
          val got = timed(kind, "read") {
            tracer.span("io.manifest.ManifestTable.readPoint") {
              rows(ManifestTable.readPoint(spark, root, "event_id", id)
                .select(cols.map(col): _*).collect())
            }
          }
          reads += Map("op" -> done, "kind" -> kind, "rows" -> got.orNull)
          if (traced) tracer.op("probe") {
            val opened = tracer.span("io.manifest.ManifestTable.pointSegments") {
              ManifestTable.pointSegments(spark, root, "event_id", id).size
            }
            val live = tracer.span("io.manifest.ManifestTable.dataSegments") {
              ManifestTable.dataSegments(spark, root).size
            }
            probes += Map("opened" -> opened, "live" -> live)
          }
        case "range_read" =>
          val got = timed(kind, "read") {
            tracer.span("io.manifest.ManifestTable.readRange") {
              ManifestTable.readRange(spark, root, "ts", Some(op(5).toLong), Some(op(6).toLong))
                .agg(count(lit(1)), sum("value")).head().toSeq
            }
          }
          reads += Map("op" -> done, "kind" -> kind, "rows" -> got.orNull)
        // a sync commits the folded partials to the view's own log
        case "view_sync" => timed(kind, "commit") {
            tracer.span("io.manifest.AggView.syncFromLog") {
              AggView.syncFromLog(spark, view, root, spec)
            }
          }
      }
      done += 1
    }

    def cycle(c: Int): Unit = ops.filter(_(0).toInt == cycles(c)).foreach(runOp)

    val n = unitsFor(LakeCycleS)
    require(n < cycles.size, s"the op log holds ${cycles.size} cycles, $n + 1 needed")
    loop(n)(cycle(0))(cycle(round + 1))
    observed("ops_done") = done
    observed("reads") = reads.toList
    observed("probes") = probes.toList
    val out = new PrintWriter(s"$work/final_table.tsv")
    try ManifestTable.read(spark, root).select(cols.map(col): _*).collect()
      .foreach(r => out.println(r.toSeq.mkString("\t")))
    finally out.close()
    observed("final_table") = s"$work/final_table.tsv"
    AggView.syncFromLog(spark, view, root, spec)
    observed("view") = rows(AggView.read(spark, view, spec)
      .where(col("n") > 0).orderBy("event_type").collect())
    observed("segments_live") = ManifestTable.dataSegments(spark, root).size
  }

  private def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum else 1

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object Bench {
  /** `--workload W --in DIR --work DIR --seed N --seconds S --trace 0|1
    * --cores N --out FILE`: run one workload and write the run record. */
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val record = new Bench(o("workload"), o("in"), o("work"), o("seed").toLong,
      o("seconds").toDouble, o("trace") == "1", o("cores").toInt).run()
    val out = new PrintWriter(o("out"))
    try out.print(Json.render(record)) finally out.close()
  }
}
