package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.Streaming
import graft.table.{ColumnStats, ManifestEntry, ManifestLine}
import graft.table.EntryTag.{Bloom, DeleteVector, SchemaHash}
import graft.table.ManifestLine.{Add, DirRef, Header, Modify, Remove}

/** The manifest codec (`graft.table.Manifest`): every line the table
  * format writes parses to a typed line and renders back to the same
  * bytes; the legacy shapes older writers left behind decode to the
  * intended fields; and hostile column names never leak into the tag
  * fields or out of the stats field.
  */
class ManifestCodecSpec extends AnyFunSuite with Matchers with SparkSessionSetup {

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rows whose column names are the ones a prefix scanner trips on. */
  private val Emoji = "😀"

  private def batch(ids: Seq[Long], v: Long): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
      .withColumn("key", concat(lit("k-"), col("id").cast("string")))
      .withColumn("v", lit(v))
      .withColumn("shard", col("id") % 4)
      .withColumn("dv", col("id") * 2)
      .withColumn("sh", concat(lit("s:"), col("id").cast("string")))
      .withColumn("bl", col("id").cast("double") / 3)
      .withColumn("z", lit(null).cast("string"))
      .withColumn("a:b", col("id") + 1)
      .withColumn("c,d", col("id") - 1)
      .withColumn("e%f", concat(lit("%41,"), col("id").cast("string")))
      .withColumn("t\tab", col("id") * 3)
      .withColumn(Emoji, concat(lit(Emoji), col("id").cast("string")))
  }

  private def readText(p: Path): Seq[String] = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(buf) finally in.close()
    new String(buf, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Every manifest file currently in the table's manifest dir. */
  private def manifestFiles(target: String): Map[String, Seq[String]] =
    fs.listStatus(Streaming.manifestDir(target)).map(_.getPath)
      .filter(p => Seq("gen-", "inc-", "m-").exists(p.getName.startsWith))
      .map(p => p.getName -> readText(p)).toMap

  test("render(parse(l)) == l for every line of every manifest file a table " +
      "writes through upsert, DV delete, MERGE, bloom build, compaction and clustering") {
    val target = Files.createTempDirectory("graft-codec-rt").toString + "/t"
    // files are pruned past the horizon: collect them after every verb
    val seen = scala.collection.mutable.Map.empty[String, Seq[String]]
    def snap(): Unit = seen ++= manifestFiles(target)
    def upsert(ids: Seq[Long], v: Long): Unit =
      Streaming.upsertPartitionedBatch(target, "id", "v", "shard")(batch(ids, v), v)
    upsert(0L until 64L, 1L); snap()
    upsert(0L until 64L by 4, 2L); snap()
    Streaming.deleteWhere(spark, target, col("id") === 5L) shouldBe 1L; snap()
    val source = batch(Seq(6L, 7L, 100L, 101L), 3L).withColumn("key", lit("merged"))
    Streaming.mergeInto(spark, target, source, "t.id = s.id",
      whenMatchedUpdate = Some(Map("key" -> "s.key")),
      whenNotMatchedInsert = Some(Map.empty),
      stagePartitionBy = Seq("shard")) shouldBe Streaming.MergeStats(2L, 2L)
    snap()
    Streaming.buildBloomIndex(spark, target, "key") should be > 0; snap()
    // a DV landing on a bloom-tagged entry, then a second bloom column:
    // tags in history order (bl, dv, bl) and a retag moving to the end
    Streaming.deleteWhere(spark, target, col("id") === 9L) shouldBe 1L; snap()
    Streaming.buildBloomIndex(spark, target, "a:b") should be > 0; snap()
    Streaming.buildBloomIndex(spark, target, "key") should be > 0; snap()
    Streaming.compactShards(spark, target, "shard") should be > 0; snap()
    upsert(64L until 80L, 4L); snap()
    Streaming.clusterTable(spark, target, "id", 4); snap()
    Streaming.readCommitted(spark, target).count() shouldBe 80L

    val parsed = seen.toSeq.sortBy(_._1).flatMap { case (name, lines) =>
      lines.map { l =>
        val back =
          if (name.startsWith("m-")) ManifestEntry.parse(l).render
          else ManifestLine.parse(l).render
        withClue(s"$name: ") { back shouldBe l }
        if (name.startsWith("m-")) ManifestLine.Bare(ManifestEntry.parse(l))
        else ManifestLine.parse(l)
      }
    }
    // the drive really produced every line and tag shape
    val entries = parsed.collect {
      case Add(e) => e
      case Modify(e) => e
      case ManifestLine.Bare(e) => e
    }
    parsed.exists(_.isInstanceOf[DirRef]) shouldBe true
    parsed.exists(_.isInstanceOf[Remove]) shouldBe true
    parsed.exists(_.isInstanceOf[Modify]) shouldBe true
    parsed.collect { case h: Header => h }.flatMap(_.schemaHash) should not be empty
    entries.exists(_.dv.isDefined) shouldBe true
    entries.exists(_.blooms.keySet == Set("key", "a:b")) shouldBe true
    entries.exists(_.tags.map(_.getClass) ==
      Seq(classOf[SchemaHash], classOf[Bloom], classOf[DeleteVector], classOf[Bloom])) shouldBe true
    // hostile column names decode to their own bounds and null counts
    val full = entries.filter(_.rows.exists(_ > 0L)).head
    full.bounds.keySet shouldBe
      Set("id", "key", "v", "dv", "sh", "bl", "a:b", "c,d", "e%f", "t\tab", Emoji)
    full.nullCounts("z") shouldBe full.rows.get
    full.bounds("sh")._2 should startWith("s:")
    full.bounds(Emoji)._2 should startWith(Emoji)
  }

  test("legacy entry shapes parse to the intended fields and render back") {
    def rt(l: String): ManifestEntry = {
      val e = ManifestEntry.parse(l)
      e.render shouldBe l
      e
    }
    rt("d/p") shouldBe ManifestEntry("d/p")
    rt("d/p\t12") shouldBe ManifestEntry("d/p", Some(12L))
    val withBounds = rt("d/p\t12\tid:l:1:9")
    withBounds.bounds shouldBe Map("id" -> (('l', "1", "9")))
    withBounds.nullCounts shouldBe empty
    // a tag in the rows slot of a bare legacy entry
    val bareDv = rt("d/p\tdv:s:3")
    (bareDv.rows, bareDv.stats, bareDv.dv) shouldBe ((None, None, Some(("s", 3L))))
    bareDv.liveRows shouldBe None
    // a tag in the stats slot of a `path\trows` entry
    val rowsBloom = rt("d/p\t12\tbl:c:s")
    (rowsBloom.rows, rowsBloom.stats, rowsBloom.blooms) shouldBe
      ((Some(12L), None, Map("c" -> "s")))
    // today's writer: empty stats slot before the schema tag
    val noStats = rt("d/p\t0\t\tsh:0badf00d")
    (noStats.stats, noStats.schemaHash) shouldBe ((Some(Nil), Some("0badf00d")))
    an[IllegalArgumentException] should be thrownBy ManifestEntry.parse("d/p\t12\tid:l:1:9\tjunk")
  }

  test("manifest line shapes parse to their typed cases") {
    ManifestLine.parse("# schema 0badf00d") match {
      case h: Header => h.schemaHash shouldBe Some("0badf00d")
      case other => fail(s"$other")
    }
    ManifestLine.parse("# txn sink-1 7") match {
      case h: Header => h.txn shouldBe Some(("sink-1", 7L))
      case other => fail(s"$other")
    }
    ManifestLine.parse("# rebuild") shouldBe Header.Rebuild
    ManifestLine.parse("@ shard%3D1\tm-000000000008-ab-0") shouldBe
      DirRef("shard=1", "m-000000000008-ab-0")
    ManifestLine.parse("+ d/p\t1") shouldBe Add(ManifestEntry("d/p", Some(1L)))
    ManifestLine.parse("- d/p") shouldBe Remove("d/p")
    ManifestLine.parse("~ d/p\tdv:s:1") shouldBe
      Modify(ManifestEntry("d/p", tags = Seq(DeleteVector("s", 1L))))
    ManifestLine.parse("d/p") shouldBe ManifestLine.Bare(ManifestEntry("d/p"))
    ManifestLine.dirRefs(Seq(ManifestLine.Bare(ManifestEntry("d/p")))) shouldBe None
    ManifestLine.dirRefs(Seq(Header.Rebuild)) shouldBe Some(Nil)
  }

  test("bounds and tags decode to the right fields under hostile column names") {
    val hostile = Seq("dv", "sh", "bl", "z", "a:b", "c,d", "e%f", "t\tab", s"x$Emoji")
    hostile.foreach { c =>
      val e = ManifestEntry("d=1/p.parquet", Some(10L),
        Some(Seq(
          ColumnStats(c, 's', s"lo:$c", s"hi,\t%$c", Some(2L)),
          ColumnStats.allNull(s"${c}2", 10L),
          ColumnStats(s"${c}3", 'l', "-4", "9", None))),
        Seq(SchemaHash("0badf00d"), Bloom(c, "bl-1.parquet"), DeleteVector("dv-2.parquet", 3L)))
      val line = e.render
      withClue(s"column '$c' rendered as '$line': ") {
        line.count(_ == '\t') shouldBe 5
        val back = ManifestEntry.parse(line)
        back shouldBe e
        back.bounds shouldBe Map(c -> (('s', s"lo:$c", s"hi,\t%$c")), s"${c}3" -> (('l', "-4", "9")))
        back.nullCounts shouldBe Map(c -> 2L, s"${c}2" -> 10L)
        back.blooms shouldBe Map(c -> "bl-1.parquet")
        back.dv shouldBe Some(("dv-2.parquet", 3L))
        back.schemaHash shouldBe Some("0badf00d")
        back.liveRows shouldBe Some(7L)
      }
      // a lone stats token led by a tag-like name stays stats
      Seq('l', 's').foreach { k =>
        val lone = ManifestEntry("p", Some(1L), Some(Seq(ColumnStats(c, k, "", "", None))))
        val back = ManifestEntry.parse(lone.render)
        back shouldBe lone
        back.tags shouldBe empty
      }
    }
  }

  test("retagging replaces the old tag and appends the new one at the end") {
    val e = ManifestEntry("p", Some(5L), Some(Nil),
      Seq(SchemaHash("h"), DeleteVector("dv-1", 1L), Bloom("k", "bl-1")))
    e.withDv("dv-2", 2L).tags shouldBe
      Seq(SchemaHash("h"), Bloom("k", "bl-1"), DeleteVector("dv-2", 2L))
    e.withBloom("k", "bl-2").withBloom("j", "bl-3").tags shouldBe
      Seq(SchemaHash("h"), DeleteVector("dv-1", 1L), Bloom("k", "bl-2"), Bloom("j", "bl-3"))
  }
}
