package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, PartitionedIndex, Similarity}

/** The Spark work of one index maintain and one indexed serve, counted
  * per call under the benchmark's session conf (AQE on, shuffle
  * partitions = cores, driver-side partition listing). A 4-row change
  * batch must cost a bounded number of jobs — the batch merged and its
  * index rows built once, no schema-inference job, no exchange to
  * dedupe a bounded key set — and every job a maintain launches must
  * carry its updater's label. Budgets: a band maintain runs 7 jobs
  * (the merge's aggregate, broadcast and id collect, the signing
  * aggregate, the locate collect, the rewrite's exchange and write),
  * a hash or IVF maintain 6 (no signing); a band or hash serve 3 (the
  * probe collect, the broadcast of the probe side, the result) and an
  * IVF serve 4 (plus its top-k exchange). The read schema taken from
  * a leaf's footer must equal the one a parquet read infers. */
class IndexWorkSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** The jobs, their descriptions and the stage names one call runs. */
  final class Work(val jobs: Int, val descriptions: Seq[String],
                   val stages: Seq[String])

  private def work[T](body: => T): (T, Work) = {
    val descs = ArrayBuffer.empty[String]
    val stages = ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = descs.synchronized {
        descs += Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        ()
      }
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
        stages.synchronized { stages += st.stageInfo.name; () }
    }
    org.apache.spark.GraftTestBridge.flushListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftTestBridge.flushListenerBus(spark.sparkContext)
      (out, new Work(descs.length, descs.toSeq, stages.toSeq))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The benchmark's session conf, restored afterwards. */
  private def benchConf[T](body: => T): T = {
    val conf = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.shuffle.partitions" ->
        spark.sparkContext.defaultParallelism.toString,
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private val r = new Random(11)
  private val words = (0 until 60).map(i => s"w$i")
  private def text(): String = Seq.fill(9)(words(r.nextInt(words.size))).mkString(" ")
  private def vec(): Seq[Double] = Seq.fill(8)(r.nextGaussian())

  private lazy val docs = (0L until 40L).map(i => (i, text())).toDF("doc_id", "text")
  private lazy val hashes = (0L until 40L).map(i => (i, r.nextLong())).toDF("img_id", "dhash")
  private lazy val vecs = (0L until 60L).map(i => (i, vec())).toDF("vec_id", "embedding")
  private lazy val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", 8, iters = 1)

  /** Two updates, one delete and one insert of `payload`'s rows, read
    * from one parquet file as a file stream's micro-batch is. */
  private def batch(id: String, payload: String, rows: Seq[(Long, Any)]): DataFrame = {
    val ops = Seq("u", "u", "d", "i")
    val dir = tmp("work_batch")
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.zip(ops).map { case ((i, p), op) =>
          Row(i, if (op == "d") null else p, 1L, op)
        }, 1),
      StructType(Seq(
        StructField(id, LongType),
        StructField(payload, payload match {
          case "text" => StringType
          case "dhash" => LongType
          case _ => ArrayType(DoubleType)
        }),
        StructField("seq", LongType),
        StructField("op", StringType))))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def assertMaintain(updater: String, w: Work, budget: Int,
                             touched: Array[_]): Unit = {
    info(s"$updater: ${w.jobs} jobs")
    assert(touched.nonEmpty, s"$updater touched nothing")
    assert(w.jobs <= budget, s"$updater ran ${w.jobs} jobs: ${w.descriptions.mkString(" | ")}")
    assert(w.descriptions.forall(_.startsWith(s"$updater: ")),
      s"$updater ran a job without its label: ${w.descriptions.mkString(" | ")}")
    assert(!w.stages.exists(_.startsWith("parquet at PartitionedIndex")),
      s"$updater inferred a schema: ${w.stages.mkString(" | ")}")
  }

  private def assertServe(serve: String, w: Work, budget: Int, rows: Int): Unit = {
    info(s"$serve: ${w.jobs} jobs")
    assert(rows > 0, s"$serve served nothing")
    assert(w.jobs <= budget, s"$serve ran ${w.jobs} jobs: ${w.stages.mkString(" | ")}")
    assert(!w.stages.exists(_.startsWith("parquet at PartitionedIndex")),
      s"$serve inferred a schema: ${w.stages.mkString(" | ")}")
  }

  test("band maintain and serve stay within their job budgets") {
    benchConf {
      val dir = tmp("work_band")
      Dedup.writeBandIndex(docs, "text", "doc_id", dir)
      val changes = batch("doc_id", "text",
        Seq(3L, 17L, 25L, 900L).map(i => (i, text())))
      val (touched, w) = work(Dedup.updateBandIndex(dir, changes, "text", "doc_id"))
      assertMaintain("updateBandIndex", w, 7, touched)
      val arrivals = changes.where($"op" =!= "d").select("doc_id", "text").localCheckpoint()
      val (n, s) = work(Dedup.minhashMatchesIndexedWithEvidence(
        dir, arrivals, "doc_id", "text")._1.collect().length)
      assertServe("band serve", s, 3, n)
    }
  }

  test("hash maintain and serve stay within their job budgets") {
    benchConf {
      val dir = tmp("work_hash")
      Dedup.writeHashIndex(hashes, "img_id", "dhash", dir, bands = 4, nPrefix = 16)
      val changes = batch("img_id", "dhash",
        Seq(3L, 17L, 25L, 900L).map(i => (i, r.nextLong())))
      val (touched, w) = work(Dedup.updateHashIndex(dir, changes, "img_id", "dhash"))
      assertMaintain("updateHashIndex", w, 6, touched)
      val arrivals = changes.where($"op" =!= "d").select("img_id", "dhash").localCheckpoint()
      val (n, s) = work(Dedup.hashMatchesIndexedWithEvidence(
        dir, arrivals, "img_id", "dhash")._1.collect().length)
      assertServe("hash serve", s, 3, n)
    }
  }

  test("IVF maintain and serve stay within their job budgets") {
    benchConf {
      val dir = tmp("work_ivf")
      Similarity.writeIvfIndex(vecs, "vec_id", "embedding", cents, dir)
      val changes = batch("vec_id", "embedding",
        Seq(3L, 17L, 25L, 900L).map(i => (i, vec())))
      val (touched, w) = work(Similarity.updateIvfIndex(
        dir, changes, "vec_id", "embedding", cents))
      assertMaintain("updateIvfIndex", w, 6, touched)
      val arrivals = changes.where($"op" =!= "d").select("vec_id", "embedding").localCheckpoint()
      val (n, s) = work(Similarity.ivfPartitionedTopKWithEvidence(
        dir, arrivals, "vec_id", "embedding", 3, cents, 2)._1.collect().length)
      assertServe("IVF serve", s, 4, n)
    }
  }

  /** What a parquet read infers for one of the layout's leaves, with
    * the pinned partition column appended. */
  private def inferred(dir: String, f: PartitionedIndex.Family[_]): StructType = {
    val leaf = new java.io.File(dir).listFiles().filter(_.getName.startsWith(f.partCol + "="))
      .flatMap(_.listFiles()).find(_.getName.endsWith(".parquet")).get
    spark.read.parquet(leaf.getPath).schema.add(f.partCol, f.key.dataType, nullable = true)
  }

  test("the footer schema equals the inferred one for all three families") {
    val band = tmp("schema_band")
    Dedup.writeBandIndex(docs, "text", "doc_id", band)
    val hash = tmp("schema_hash")
    Dedup.writeHashIndex(hashes, "img_id", "dhash", hash, bands = 4, nPrefix = 16)
    val ivf = tmp("schema_ivf")
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", cents, ivf)
    def check[K](dir: String, f: PartitionedIndex.Family[K], one: K, none: K): Unit = {
      val want = inferred(dir, f)
      assert(PartitionedIndex.read(spark, dir, f).schema == want)
      assert(PartitionedIndex.read(spark, dir, f, Set(one)).schema == want)
      assert(PartitionedIndex.read(spark, dir, f, Set(none)).schema == want)
    }
    check(band, Dedup.BandIndex, PartitionedIndex.read(spark, band, Dedup.BandIndex)
      .select("pfx").head().getString(0), "zz")
    check(hash, Dedup.HashIndex, PartitionedIndex.read(spark, hash, Dedup.HashIndex)
      .select("pfx").head().getInt(0), 99)
    check(ivf, Similarity.IvfIndex, PartitionedIndex.read(spark, ivf, Similarity.IvfIndex)
      .select("cell").head().getInt(0), 99)
  }

  test("the footer schema holds on an all-numeric hex layout and past an emptied dir") {
    val dir = tmp("schema_num")
    Dedup.writeBandIndex(docs, "text", "doc_id", dir, prefixChars = 2)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pfxDirs = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("pfx=")).sortBy(_.getName)
    pfxDirs.zipWithIndex.foreach { case (p, i) =>
      assert(fs.rename(p, new Path(dir, f"pfx=$i%02d")))
    }
    assert(spark.read.parquet(dir).schema("pfx").dataType == IntegerType)
    val want = inferred(dir, Dedup.BandIndex)
    assert(want("pfx").dataType == StringType)
    assert(PartitionedIndex.read(spark, dir, Dedup.BandIndex).schema == want)
    // empty the first dir: a read of it alone takes its schema from
    // another dir's leaf and returns no rows
    fs.listStatus(new Path(dir, "pfx=00")).foreach(st => fs.delete(st.getPath, true))
    val emptied = PartitionedIndex.read(spark, dir, Dedup.BandIndex, Set("00"))
    assert(emptied.schema == want)
    assert(emptied.count() == 0)
    assert(PartitionedIndex.read(spark, dir, Dedup.BandIndex).schema == want)
  }

  test("a leaf without Spark's stored schema raises the rebuild message") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("schema_foreign")
    val schema = MessageTypeParser.parseMessageType("message m { required int64 doc_id; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/pfx=0/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("doc_id", 1L))
    finally w.close()
    val e = intercept[IllegalArgumentException](
      PartitionedIndex.read(spark, dir, Dedup.BandIndex))
    assert(e.getMessage.contains("rebuild it with writeBandIndex"), e.getMessage)
  }
}
