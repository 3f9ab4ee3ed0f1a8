package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Checks of the benchmark's own machinery: the result digest and the
  * corpus generator. Run with `sbt test` in this directory.
  */
class BenchSelfSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val cpus = Runtime.getRuntime.availableProcessors.toString
  private lazy val spark: SparkSession = graft.Sessions.local(cpus)

  override def afterAll(): Unit = spark.stop()

  private def digest(df: DataFrame): String = Digest.read(Digest.frame(df).collect()).toString

  private def sample: DataFrame =
    spark.range(0, 2000, 1, 4).select(
      col("id"),
      (col("id") % 7).cast("string").as("k"),
      (col("id") / 3.0).as("d"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("float") / 7).as("f"),
      array(col("id"), col("id") + 1).as("arr"),
      map(lit("m"), col("id") / 11.0).as("mp"),
      struct(col("id").as("a"), (col("id") * 0.5).as("b")).as("st"))

  test("the digest does not depend on row order or partitioning") {
    val base = digest(sample)
    assert(digest(sample.orderBy(col("id").desc)) == base)
    assert(digest(sample.repartition(7)) == base)
    assert(digest(sample.coalesce(1)) == base)
  }

  test("the digest does not depend on column order") {
    val cols = sample.columns.reverse.toIndexedSeq.map(col)
    assert(digest(sample.select(cols: _*)) == digest(sample))
  }

  test("the digest sees every column and every row") {
    val base = digest(sample)
    assert(digest(sample.withColumn("k", concat(col("k"), lit("x")))) != base)
    assert(digest(sample.filter(col("id") =!= 1999)) != base)
    assert(digest(sample.withColumnRenamed("d", "e")) != base)
  }

  test("floating values are compared at a fixed relative precision") {
    val a = spark.createDataFrame(Seq((1, 0.1 + 0.2), (2, -0.0))).toDF("i", "x")
    val b = spark.createDataFrame(Seq((1, 0.3), (2, 0.0))).toDF("i", "x")
    assert(digest(a) == digest(b))
    val c = spark.createDataFrame(Seq((1, 0.3000001), (2, 0.0))).toDF("i", "x")
    assert(digest(c) != digest(b))
  }

  test("catalog digests match the recorded ones with 1 and with nproc shuffle partitions") {
    val dir = "data/sf0.01"
    val recorded = Files.readAllLines(Path.of("digests.tsv"), UTF_8).asScala
      .map(_.split("\t")).collect { case Array(q, d) => q -> d }.toMap
    graft.ops.Storage.warmup(spark, dir)
    for (p <- Seq("1", cpus)) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      graft.Ckpt.release("")
      for (q <- Main.CatalogSlice)
        assert(digest(graft.SparkEntry.queries(q)(spark, dir)) == recorded(q), s"$q at $p partitions")
    }
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
  }

  test("the corpus generator is byte-identical for a seed and differs across seeds") {
    val tmp = Files.createTempDirectory("corpus-")
    def bytes(seed: Long, name: String): Seq[Array[Byte]] = {
      val d = tmp.resolve(name)
      Corpus.generate(d, seed, 1L << 20)
      (0 until Corpus.FileCount).map(i => Files.readAllBytes(d.resolve(Corpus.fileName(i))))
    }
    val a = bytes(7, "a")
    val b = bytes(7, "b")
    val c = bytes(8, "c")
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(a.map(_.length.toLong).sum >= (1L << 20))
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("the sequential oracle gives the reference apps' output on a small input") {
    val files = Seq("a.txt" -> "the cat, the hat\nthé cat", "b.txt" -> "hat 42 hat")
    val wc = Corpus.sequential(graft.mr.MRApps.WordCount, files).digest
    assert(wc == Digest.ofLines(Iterator("cat 2", "hat 3", "the 2", "thé 1")))
    val ix = Corpus.sequential(graft.mr.MRApps.Indexer, files).digest
    assert(ix == Digest.ofLines(Iterator("cat 1 a.txt", "hat 2 a.txt,b.txt", "the 1 a.txt", "thé 1 a.txt")))
  }
}
