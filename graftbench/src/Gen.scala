package graftbench

import java.io.{File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the benchmark hands graft is a
  * file written here; the returned values are the ground truth the
  * benchmark checks graft's outputs against. */
object Gen {

  // ——— etl_push: zipped ESRI shapefile layers ———

  /** One generated polygon record and its closed-form areas. Part 0 is a
    * planar ring in metres (EUREF-like), part 1 a lon/lat ring in degrees.
    * kind 0 = closed rectangle, 1 = unclosed rectangle, 2 = bowtie. */
  final case class Ring(id: Long, kind: Int, vertices: Int, planarArea: Long,
                        validArea: Double, sphericalArea: Double)

  val EarthRadiusM = 6371008.8

  /** Writes `archives` zip files, each holding layer.shp + layer.dbf with
    * `perArchive` polygon records, under `dir`. */
  def shapefiles(dir: File, seed: Long, archives: Int, perArchive: Int): Seq[Ring] = {
    dir.mkdirs()
    val rnd = new Random(seed)
    val species = Array("lupiini", "kurtturuusu", "jattipalsami", "tattari", "kanadanpiisku")
    (0 until archives).flatMap { a =>
      val recs = (0 until perArchive).map { i =>
        val id = a.toLong * perArchive + i
        val kind = if (rnd.nextInt(10) < 6) 0 else if (rnd.nextInt(2) == 0) 1 else 2
        val (x0, y0) = (385000 + rnd.nextInt(100000), 6672000 + rnd.nextInt(100000))
        val (w, h) = (20 + rnd.nextInt(480), 20 + rnd.nextInt(480))
        val extra = rnd.nextInt(24) // collinear points on the bottom edge
        val planar: Seq[(Double, Double)] = kind match {
          case 2 => Seq((x0, y0), (x0 + w, y0 + h), (x0 + w, y0), (x0, y0 + h), (x0, y0))
            .map { case (x, y) => (x.toDouble, y.toDouble) }
          case _ =>
            val open = Seq((x0, y0)) ++ (1 to extra).map(j => (x0 + j, y0)) ++
              Seq((x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h))
            (if (kind == 0) open :+ ((x0, y0)) else open)
              .map { case (x, y) => (x.toDouble, y.toDouble) }
        }
        val lon0 = 20.0 + rnd.nextInt(10000) / 1000.0
        val lat0 = 60.0 + rnd.nextInt(8000) / 1000.0
        val (dLon, dLat) = (0.001 + rnd.nextInt(9) / 1000.0, 0.001 + rnd.nextInt(9) / 1000.0)
        val sphOpen = Seq((lon0, lat0)) ++
          (1 to extra).map(j => (lon0 + dLon * j / (extra + 1), lat0)) ++
          Seq((lon0 + dLon, lat0), (lon0 + dLon, lat0 + dLat), (lon0, lat0 + dLat))
        val sph = if (kind == 1) sphOpen else sphOpen :+ ((lon0, lat0))
        val sphArea = EarthRadiusM * EarthRadiusM * math.toRadians(dLon) *
          math.abs(math.sin(math.toRadians(lat0 + dLat)) - math.sin(math.toRadians(lat0)))
        val truth = Ring(id, kind, planar.size,
          planarArea = if (kind == 2) 0L else w.toLong * h,
          validArea = if (kind == 2) w.toDouble * h / 2 else w.toDouble * h,
          sphericalArea = sphArea)
        (truth, Seq(planar, sph), species(rnd.nextInt(species.length)))
      }
      val zf = new File(dir, f"layer-$a%03d.zip")
      val zos = new ZipOutputStream(new FileOutputStream(zf))
      try {
        zos.putNextEntry(new ZipEntry("layer.shp"))
        zos.write(shpBytes(recs.map(_._2)))
        zos.closeEntry()
        zos.putNextEntry(new ZipEntry("layer.dbf"))
        zos.write(dbfBytes(Seq("ID", "LAJI"), recs.map(r => Seq(r._1.id.toString, r._3))))
        zos.closeEntry()
      } finally zos.close()
      recs.map(_._1)
    }
  }

  /** Polygon .shp in the ESRI layout: 100-byte header (big-endian file
    * code and length, little-endian version and shape type), then per
    * record a big-endian (number, content length in 16-bit words) header
    * and a little-endian polygon body with one part per ring. */
  private def shpBytes(polys: Seq[Seq[Seq[(Double, Double)]]]): Array[Byte] = {
    val contents = polys.map { parts =>
      val pts = parts.flatten
      val c = ByteBuffer.allocate(4 + 32 + 8 + 4 * parts.size + 16 * pts.size)
        .order(ByteOrder.LITTLE_ENDIAN)
      c.putInt(5)
      c.putDouble(pts.map(_._1).min); c.putDouble(pts.map(_._2).min)
      c.putDouble(pts.map(_._1).max); c.putDouble(pts.map(_._2).max)
      c.putInt(parts.size).putInt(pts.size)
      parts.scanLeft(0)(_ + _.size).init.foreach(c.putInt)
      pts.foreach { case (x, y) => c.putDouble(x); c.putDouble(y) }
      c.array()
    }
    val total = 100 + contents.map(8 + _.length).sum
    val bb = ByteBuffer.allocate(total)
    bb.putInt(0, 9994)
    bb.putInt(24, total / 2)
    val le = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    le.putInt(0, 1000); le.putInt(4, 5)
    System.arraycopy(le.array(), 0, bb.array(), 28, 8)
    var off = 100
    contents.zipWithIndex.foreach { case (c, i) =>
      bb.putInt(off, i + 1)
      bb.putInt(off + 4, c.length / 2)
      System.arraycopy(c, 0, bb.array(), off + 8, c.length)
      off += 8 + c.length
    }
    bb.array()
  }

  /** dBASE III table with character fields of width 16. */
  private def dbfBytes(fields: Seq[String], rows: Seq[Seq[String]]): Array[Byte] = {
    val w = 16
    val headerSize = 32 + 32 * fields.size + 1
    val recSize = 1 + w * fields.size
    val bb = ByteBuffer.allocate(headerSize + recSize * rows.size + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(0, 0x03.toByte)
    bb.putInt(4, rows.size)
    bb.putShort(8, headerSize.toShort)
    bb.putShort(10, recSize.toShort)
    fields.zipWithIndex.foreach { case (n, i) =>
      val off = 32 + 32 * i
      n.getBytes("US-ASCII").take(11).zipWithIndex.foreach { case (b, j) => bb.put(off + j, b) }
      bb.put(off + 11, 'C'.toByte)
      bb.put(off + 16, w.toByte)
    }
    bb.put(headerSize - 1, 0x0D.toByte)
    rows.zipWithIndex.foreach { case (r, i) =>
      val ro = headerSize + i * recSize
      bb.put(ro, ' '.toByte)
      r.zipWithIndex.foreach { case (v, j) =>
        val padded = v.padTo(w, ' ').take(w).getBytes("US-ASCII")
        System.arraycopy(padded, 0, bb.array(), ro + 1 + j * w, w)
      }
    }
    bb.put(headerSize + recSize * rows.size, 0x1A.toByte)
    bb.array()
  }

  // ——— etl_push: the observation star schema (events, customer, nation) ———

  /** Writes events/customer/nation parquet under `dir`; returns each
    * event's `value`, indexed by event_id. Every event joins a customer
    * and a nation, so every event becomes one document. */
  def observations(spark: SparkSession, dir: File, seed: Long, events: Int): Array[Double] = {
    val rnd = new Random(seed ^ 0x5eed)
    val nCust = 200
    val types = Array("purchase", "click", "view", "signup", "error")
    val values = Array.fill(events)(rnd.nextInt(20000) / 100.0)
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    val ev = (0 until events).map { i =>
      Row(i.toLong, new java.sql.Timestamp(t0 + rnd.nextInt(86400 * 120) * 1000L),
        rnd.nextInt(nCust).toLong, types(rnd.nextInt(types.length)), values(i), "{}")
    }
    val cust = (0 until nCust).map(c => Row(c.toLong, f"Customer#$c%09d",
      rnd.nextInt(25), rnd.nextInt(1000000) / 100.0, "HOUSEHOLD"))
    val nat = (0 until 25).map(n => Row(n, s"NATION_$n", n % 5))
    write(spark, ev, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      new File(dir, "events.parquet"), 4)
    write(spark, cust, StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))), new File(dir, "customer.parquet"), 1)
    write(spark, nat, StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))), new File(dir, "nation.parquet"), 1)
    values
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    to: File, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.parquet(to.getPath)

  // ——— curate_dedup: a documents corpus with planted duplicates ———

  /** `clusters` holds each planted group of copies and near-copies, as
    * indices into the arrays. */
  final case class Corpus(ids: Array[Long], texts: Array[String], langs: Array[String],
                          clusters: Seq[Seq[Int]]) {
    private def tokens(i: Int): Array[String] = texts(i).split(" ")
    def ngrams(i: Int, n: Int): Set[String] =
      tokens(i).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    def jaccard(a: Int, b: Int, n: Int): Double = {
      val (x, y) = (ngrams(a, n), ngrams(b, n))
      (x intersect y).size.toDouble / (x union y).size
    }
  }

  /** Languages and their marker words (graft's TextAnalysis.Markers) mixed
    * into a Zipf vocabulary of language-specific words. */
  private val Langs = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "y", "que", "en"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni"))

  /** `base` random documents, then exact copies of ~8% of them and two
    * one-token edits of ~16% of the long ones (near-duplicate clusters).
    * Lengths are mostly 24–76 tokens; ~10% fall outside curate's 20–80
    * window. */
  def corpus(spark: SparkSession, dir: File, seed: Long, base: Int): Corpus = {
    val rnd = new Random(seed ^ 0xc0de)
    val vocabSize = 600
    val vocab = Langs.map { case (l, markers) =>
      val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pu")
      l -> (markers ++ (0 until vocabSize - markers.size).map { k =>
        l + syllables(k % 10) + syllables((k / 10) % 10) + syllables((k / 100) % 10)
      }).toArray
    }.toMap
    val cdf = {
      val w = (1 to vocabSize).map(k => 1.0 / math.pow(k, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    def word(l: String): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(l)(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
    }
    val texts = mutable.ArrayBuffer.empty[String]
    val langs = mutable.ArrayBuffer.empty[String]
    (0 until base).foreach { _ =>
      val l = Langs(rnd.nextInt(Langs.size))._1
      val n = if (rnd.nextInt(10) == 0) (if (rnd.nextBoolean()) 8 + rnd.nextInt(11) else 81 + rnd.nextInt(20))
              else 24 + rnd.nextInt(53)
      texts += Seq.fill(n)(word(l)).mkString(" ")
      langs += l
    }
    val clusters = (0 until base).flatMap { i =>
      val toks = texts(i).split(" ")
      val members = mutable.ArrayBuffer(i)
      if (rnd.nextInt(100) < 8) (0 to rnd.nextInt(2)).foreach { _ =>
        members += texts.length; texts += texts(i); langs += langs(i)
      }
      if (toks.length >= 50 && rnd.nextInt(100) < 16) (0 until 2).foreach { _ =>
        val e = toks.clone()
        e(5 + rnd.nextInt(toks.length - 10)) = word(langs(i))
        members += texts.length; texts += e.mkString(" "); langs += langs(i)
      }
      if (members.size > 1) Some(members.toSeq) else None
    }
    val ids = texts.indices.map(_.toLong).toArray
    val rows = texts.indices.map(i =>
      Row(ids(i), texts(i), langs(i), s"src${i % 7}", texts(i).length.toLong))
    write(spark, rows, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), new File(dir, "documents.parquet"), 1)
    Corpus(ids, texts.toArray, langs.toArray, clusters)
  }
}
