package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.etl.DocumentAssembly
import graft.functions.GeoFunctions
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.sinks.HttpPushSink
import graft.sources.{BinaryIngest, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Outcome of one pass: its wall time, time to its first delivered
  * result (NaN where the workload does not track one), operations
  * attempted and failed, and failed output checks. */
final case class PassResult(seconds: Double, firstS: Double, attempted: Long,
                            failed: Long, errors: Seq[String]) {
  def complete: Boolean = failed == 0 && errors.isEmpty
}

/** Counts operations and failed checks within one pass. An operation that
  * throws is counted as failed and its result is absent. */
final class PassLog {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def attempt[A](ops: Long)(body: => A): Option[A] = {
    attempted += ops
    try Some(body)
    catch { case NonFatal(e) =>
      failed += ops
      System.err.println(s"graftbench: operation failed: $e")
      None
    }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what

  def result(t0: Long, firstNs: Long): PassResult =
    PassResult((System.nanoTime() - t0) / 1e9,
      if (firstNs > 0) (firstNs - t0) / 1e9 else Double.NaN,
      attempted, failed, errors.toSeq)
}

/** One workload over generated inputs. `pass` runs the timed work once
  * and checks its outputs; `layers` derives the per-layer metrics from
  * the traced passes. The per-layer times named in `selfTimes`, plus the
  * benchmark's own checks, should add up to a traced pass. */
trait Workload {
  def pass(n: Int, tr: Tracer): PassResult
  def layers(tr: Tracer, passes: Seq[(Int, PassResult)], eng: EngineListener): Map[String, Double]
  def selfTimes: Seq[String]
  def close(): Unit = ()
}

object Workload {
  val Names = Seq("etl_push", "curate_dedup")

  def apply(name: String, spark: SparkSession, dir: File, seed: Long,
            cores: Int): Workload = name match {
    case "etl_push" => new EtlPush(spark, dir, seed, cores)
    case "curate_dedup" => new CurateDedup(spark, dir, seed)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

import Workload._

/** The reference pipeline: zipped shapefiles → ring areas; observation
  * table → laji-etl documents (2023 and 2024 shapes) → warehouse push. */
final class EtlPush(spark: SparkSession, dir: File, seed: Long, cores: Int)
    extends Workload {
  private val (archives, perArchive, events) = (8, 2000, 4000)
  private val rings = Gen.shapefiles(new File(dir, "archives"), seed, archives, perArchive)
  private val ringById = rings.map(r => r.id -> r).toMap
  private val values = Gen.observations(spark, new File(dir, "obs"), seed, events)
  private val tables = Tables(spark, new File(dir, "obs").getPath)
  private val glob = new File(dir, "archives").getPath + "/*.zip"
  private val token = "tok" + java.lang.Long.toHexString(new scala.util.Random(seed).nextLong())
  private val warehouse = new Warehouse(seed, token, cores)
  private val transport = new CountingTransport
  private val endpoints: Seq[(String, Tables => DataFrame)] = Seq(
    "2023" -> (t => DocumentAssembly.assemble(t)),
    "2024" -> (t => DocumentAssembly.assemble2024(t)))
  private val postMs = mutable.ArrayBuffer.empty[Double]
  private val perPass = mutable.Map.empty[Int, (Long, Long, Long, Long, Long)]

  private def ingest(): DataFrame =
    BinaryIngest.shapefile(BinaryIngest.unzipEntries(BinaryIngest.binaryFiles(spark, glob)))

  private def areas(in: DataFrame): DataFrame = {
    val (planar, lonLat) = (col("rings")(0), col("rings")(1))
    in.select(col("attrs")("ID").cast("long").as("id"),
      GeoFunctions.areaCeilM2(planar).as("planar"),
      GeoFunctions.makeValid(planar).getField("area").as("valid"),
      GeoFunctions.sphericalAreaCeilM2(lonLat).as("spherical"))
  }

  private def expectedFact(endpoint: String, eventId: Long): Long = {
    val a = math.ceil(values(eventId.toInt) - 100.0).toLong
    if (endpoint == "2024") math.max(a, 1L) else if (a > 0) a else Long.MinValue
  }

  def pass(n: Int, tr: Tracer): PassResult = {
    warehouse.begin()
    PushStats.reset()
    val logDir = new File(dir, s"pushlog-$n")
    val log = new PassLog
    val t0 = System.nanoTime()

    val decoded = log.attempt(rings.size.toLong) {
      val in = tr("sources.ingest.plan", "sources")(ingest())
      val a = tr("functions.area.plan", "functions")(areas(in))
      tr("functions.area.collect", "functions")(a.collect())
    }
    decoded.foreach(rows => tr("bench.check", "bench") {
      log.check(rows.length == rings.size, s"decoded ${rows.length} of ${rings.size} records")
      rows.foreach { r =>
        val t = ringById.get(r.getLong(0))
        log.check(t.exists(_.planarArea == r.getLong(1)), s"planar area of record ${r.getLong(0)}: ${r.getLong(1)} vs $t")
        log.check(t.exists(x => math.abs(x.validArea - r.getDouble(2)) <= 1e-6 * x.validArea),
          s"make-valid area of record ${r.getLong(0)}: ${r.getDouble(2)} vs $t")
        log.check(t.exists(x => math.abs(math.ceil(x.sphericalArea) - r.getLong(3)) <= 1),
          s"spherical area of record ${r.getLong(0)}: ${r.getLong(3)} vs $t")
      }
    })

    val pushed = endpoints.map { case (endpoint, assemble) =>
      endpoint -> log.attempt(events.toLong) {
        val docs = tr("etl.plan", "etl") {
          val d = assemble(tables)
          if (tr.enabled) d.queryExecution.executedPlan
          d
        }
        tr("sinks.push", "sinks")(HttpPushSink.push(docs, "event_id", "doc", transport,
          warehouse.url(n, endpoint), new File(logDir, endpoint).getPath, token))
      }.isDefined
    }.toMap
    val result = tr("bench.check", "bench") {
      endpoints.foreach { case (endpoint, _) =>
        val prefix = s"/p$n/$endpoint|"
        val acked = mutable.Map.empty[Long, Int]
        warehouse.acks.forEach { (k, c) =>
          if (k.startsWith(prefix)) acked(k.substring(k.lastIndexOf('/') + 1).toLong) = c }
        val missing = (0L until events).count(i => !acked.contains(i))
        if (pushed(endpoint)) log.failed += missing
        log.check(missing == 0 && acked.size == events && acked.values.forall(_ == 1),
          s"$endpoint: ${acked.size} of $events documents acknowledged, " +
            s"${acked.values.count(_ != 1)} more than once")
        var sampled = 0
        warehouse.facts.forEach { (k, v) =>
          if (k.startsWith(prefix)) {
            sampled += 1
            val id = k.substring(k.lastIndexOf('/') + 1).toLong
            log.check(v == expectedFact(endpoint, id), s"$endpoint: area fact of $id is $v")
          }
        }
        log.check(sampled == (0 until events by 16).size, s"$endpoint: $sampled area facts sampled")
      }
      log.check(warehouse.badBodies.get == 0, s"${warehouse.badBodies.get} bodies did not parse")
      log.check(warehouse.badTokens.get == 0, s"${warehouse.badTokens.get} posts had a wrong token")
      log.check(PushStats.errors.get == warehouse.injected.get,
        s"${PushStats.errors.get} retried posts vs ${warehouse.injected.get} injected 503s")
      val lines = Option(logDir.listFiles()).toSeq.flatten.flatMap(d =>
          Option(d.listFiles()).toSeq.flatten).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
      log.check(lines.size == 2 * events, s"${lines.size} push log lines for ${2 * events} documents")
      log.check(!lines.exists(_.contains(token)), "a push log line contains the access token")
      log.result(t0, warehouse.firstAckNs.get)
    }
    perPass(n) = (PushStats.posts.get, PushStats.errors.get, PushStats.streams.size.toLong,
      warehouse.acks.size.toLong, decoded.map(_.length.toLong).getOrElse(0L))
    if (!tr.enabled && n > 0) postMs ++= PushStats.latenciesMs
    deleteTree(logDir)
    result
  }

  val selfTimes = Seq("sources.ingest_s", "functions.area_s", "etl.plan_s", "etl.assemble_s",
    "sinks.push_s")

  def layers(tr: Tracer, passes: Seq[(Int, PassResult)], eng: EngineListener): Map[String, Double] = {
    // stage prefixes to noop split the lazy frames' time between layers
    val ingestS = mean(Seq.fill(2)(time(noop(ingest()))))
    val ingestAreaS = mean(Seq.fill(2)(time(noop(areas(ingest())))))
    val assembleS = mean(Seq.fill(2)(time(endpoints.foreach { case (_, a) => noop(a(tables)) })))
    val areaS = math.max(ingestAreaS - ingestS, 0.0)
    val ids = passes.map(_._1)
    val planS = mean(ids.map(tr.totalSeconds(_, "etl.plan")))
    val pushS = math.max(mean(ids.map(tr.totalSeconds(_, "sinks.push"))) - assembleS, 0.0)
    val stats = ids.map(perPass)
    Map(
      "sources.ingest_s" -> ingestS,
      "sources.decoded_ratio" -> mean(stats.map(_._5.toDouble / rings.size)),
      "functions.area_s" -> areaS,
      "functions.area_rows_per_s" -> (if (areaS > 0) rings.size / areaS else 0.0),
      "etl.plan_s" -> planS,
      "etl.assemble_s" -> assembleS,
      "sinks.push_s" -> pushS,
      "sinks.post_ms_p50" -> percentile(postMs.toSeq, 0.5),
      "sinks.post_ms_p99" -> percentile(postMs.toSeq, 0.99),
      "sinks.push_streams" -> mean(stats.map(_._3.toDouble)),
      "sinks.posts" -> mean(stats.map(_._1.toDouble)),
      "sinks.retries" -> mean(stats.map(_._2.toDouble)),
      "sinks.acked_ratio" -> mean(stats.map(_._4.toDouble / (2 * events))),
      "sinks.first_push_s" -> mean(passes.map(_._2.firstS)))
  }

  override def close(): Unit = warehouse.stop()
}

/** LLM-data curation over a seeded corpus with planted exact and near
  * duplicates: five operators, each materialised and checked. */
final class CurateDedup(spark: SparkSession, dir: File, seed: Long)
    extends Workload {
  private val corpus = Gen.corpus(spark, dir, seed, 800)
  private val tables = Tables(spark, dir.getPath)
  private val nTokens = corpus.texts.map(_.split(" ").length)
  private val MinhashRecallFloor = 0.9

  /** Survivors of curate's 20–80 token filter and exact dedup:
    * lowest doc_id of each distinct text → its number of copies. */
  private val survivors: Map[Long, Long] =
    corpus.texts.indices.filter(i => nTokens(i) >= 20 && nTokens(i) <= 80)
      .groupBy(corpus.texts(_)).values
      .map(is => corpus.ids(is.min) -> is.size.toLong).toMap

  private val plantedPairs: Seq[(Int, Int)] = corpus.clusters.flatMap(c =>
    for (a <- c; b <- c if a < b) yield (a, b))
  private val minhashTruth = plantedPairs.filter { case (a, b) => corpus.jaccard(a, b, 3) >= 0.5 }.toSet
  private val setJoinTruth = plantedPairs.filter { case (a, b) =>
    val (x, y) = (corpus.ngrams(a, 2), corpus.ngrams(b, 2))
    val inter = (x intersect y).size
    inter * 10 >= (x.size + y.size - inter) * 9
  }.toSet
  private val recalls = mutable.Map.empty[Int, Double]
  private val qualityRows = mutable.Map.empty[Int, Int]

  private def pairsOf(rows: Array[Row]): Set[(Int, Int)] =
    rows.map(r => (r.getLong(0).toInt, r.getLong(1).toInt)).toSet

  private def checkCurate(rows: Array[Row], log: PassLog, n: Int): Unit = {
    val got = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    log.check(got == survivors, s"curate: ${got.size} survivors, expected ${survivors.size}")
  }

  private def checkQuality(rows: Array[Row], log: PassLog, n: Int): Unit = {
    qualityRows(n) = rows.length
    log.check(rows.length == corpus.texts.length, s"quality: ${rows.length} rows")
    rows.foreach { r =>
      val i = r.getLong(0).toInt
      log.check(r.getLong(2) == nTokens(i) && r.getLong(1) == corpus.texts(i).length,
        s"quality: doc $i has ${r.getLong(2)} tokens, ${r.getLong(1)} chars")
    }
  }

  private def checkLangId(rows: Array[Row], log: PassLog, n: Int): Unit = {
    val scored = rows.map(_.getLong(2)).sum
    val right = rows.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
    val odd = corpus.ids.count(_ % 2 == 1)
    log.check(scored == odd, s"ctLangId: scored $scored of $odd held-out documents")
    log.check(right >= 0.9 * scored, s"ctLangId: $right of $scored held-out documents right")
  }

  private def checkMinhash(rows: Array[Row], log: PassLog, n: Int): Unit = {
    rows.foreach { r =>
      val (a, b) = (r.getLong(0).toInt, r.getLong(1).toInt)
      log.check(r.getDouble(2) == corpus.jaccard(a, b, 3) && r.getDouble(2) >= 0.5,
        s"minhash: pair ($a, $b) reports Jaccard ${r.getDouble(2)}")
    }
    val recall = (pairsOf(rows) intersect minhashTruth).size.toDouble / minhashTruth.size
    recalls(n) = recall
    log.check(recall >= MinhashRecallFloor, s"minhash: recall $recall below $MinhashRecallFloor")
  }

  private def checkSetJoin(rows: Array[Row], log: PassLog, n: Int): Unit = {
    rows.foreach { r =>
      val (a, b) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val (x, y) = (corpus.ngrams(a, 2), corpus.ngrams(b, 2))
      log.check(r.getLong(2) == (x intersect y).size, s"setJoinPrefix: pair ($a, $b) overlap ${r.getLong(2)}")
    }
    val missed = setJoinTruth -- pairsOf(rows)
    log.check(missed.isEmpty, s"setJoinPrefix: missed ${missed.size} of ${setJoinTruth.size} planted pairs")
  }

  private val steps: Seq[(String, Tables => DataFrame, (Array[Row], PassLog, Int) => Unit)] = Seq(
    ("curate", t => Curation.curate(t), checkCurate),
    ("quality", t => TextAnalysis.quality(t), checkQuality),
    ("ctlangid", t => TextAnalysis.ctLangId(t), checkLangId),
    ("minhash", t => Dedup.minhashFast(t), checkMinhash),
    ("setjoin", t => Dedup.setJoinPrefix(t), checkSetJoin))

  def pass(n: Int, tr: Tracer): PassResult = {
    val log = new PassLog
    val t0 = System.nanoTime()
    steps.foreach { case (name, build, check) =>
      log.attempt(1) {
        val rows = tr(s"operators.$name", "operators") {
          val df = tr(s"operators.$name.plan", "operators") {
            val d = build(tables)
            if (tr.enabled) d.queryExecution.executedPlan
            d
          }
          df.collect()
        }
        tr("bench.check", "bench")(check(rows, log, n))
      }
    }
    log.result(t0, 0L)
  }

  val selfTimes = steps.map { case (name, _, _) => s"operators.${name}_s" }

  def layers(tr: Tracer, passes: Seq[(Int, PassResult)], eng: EngineListener): Map[String, Double] = {
    val ids = passes.map(_._1)
    def stepS(name: String) = mean(ids.map(tr.totalSeconds(_, s"operators.$name")))
    val stepTimes = steps.map { case (name, _, _) => s"operators.${name}_s" -> stepS(name) }
    val planS = mean(ids.map(p => steps.map(s => tr.totalSeconds(p, s"operators.${s._1}.plan")).sum))
    val eagerJobs = mean(ids.map(p => steps.map(s =>
      eng.total(tr.groupOf(p, s"operators.${s._1}.plan")).jobs.sum.toDouble).sum))
    stepTimes.toMap ++ Map(
      "sources.decoded_ratio" -> mean(ids.flatMap(qualityRows.get).map(_.toDouble / corpus.texts.length)),
      "operators.plan_s" -> planS,
      "operators.eager_jobs" -> eagerJobs,
      "operators.dup_recall" -> mean(ids.flatMap(recalls.get)))
  }
}
