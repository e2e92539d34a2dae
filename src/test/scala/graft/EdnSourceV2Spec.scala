package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Mbrainz
import graft.sources.EdnSource

/** DataSource V2 EDN connector vs the driver-parse reference path. */
class EdnSourceV2Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val artistsPath = MbrainzFixture.entityPath("artists")
  private lazy val nArtists = MbrainzFixture.truth.artistGids.size.toLong

  /** Forms in a generated entity file: `Truth`'s rows, and for media
    * one row per (track, artist). */
  private def inputRows(file: String): Long =
    if (file == "media")
      MbrainzFixture.truth.media.iterator.flatten.flatMap(_.tracks).map(_.artists.size.toLong).sum
    else MbrainzFixture.rows(file)

  test("v2 scan equals driver-side parse on artists.edn") {
    // every generated entity file, artists.edn among them
    val files = Mbrainz.importOrder.filter(Mbrainz.byName.contains)
    assert(files.size == 7)
    files.foreach { file =>
      val t = Mbrainz.byName(file)
      val path = MbrainzFixture.entityPath(file)
      val v2 = EdnSource.readEntities(spark, path, t)
      val drv = EdnSource.readEntitiesDriver(spark, path, t)
      assert(v2.count() == inputRows(file), file)
      assert(v2.schema == drv.schema, file)
      val a = v2.orderBy("row_idx").collect()
      val b = drv.orderBy("row_idx").collect()
      assert(a.sameElements(b), file)
    }
  }

  test("column pruning reaches the parser") {
    val v2 = EdnSource.readEntities(spark, artistsPath, Mbrainz.artists).select(col("gid"))
    val p = v2.queryExecution.executedPlan.toString
    assert(p.contains("readSchema=[gid]"), p.take(800))
    assert(v2.distinct().count() == nArtists)
  }

  test("multi-file scan keeps total order via row_idx") {
    val dir = java.nio.file.Files.createTempDirectory("multi")
    java.nio.file.Files.write(dir.resolve("a.edn"), "{:gid \"g1\" :name \"n1\" :sortname \"s1\"}\n".getBytes)
    java.nio.file.Files.write(dir.resolve("b.edn"), "{:gid \"g2\" :name \"n2\" :sortname \"s2\"}\n".getBytes)
    val df = spark.read.format("edn").schema(EdnSource.schemaFor(Mbrainz.artists))
      .load(dir.resolve("a.edn").toString, dir.resolve("b.edn").toString)
    val rows = df.orderBy("row_idx").select("name").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("n1", "n2"))
  }

  test("batch write: one EDN file per partition, round-trips") {
    import org.apache.spark.sql.functions.lit
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ednwrite").toString + "/out"
    val df = Seq((1L, "a \"quoted\"", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "score").withColumn("flag", lit(true)).repartition(2)
    df.write.format("edn").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".edn"))
    assert(files.length == 2)
    val forms = files.flatMap(f => graft.edn.Edn.parseAll(EdnSource.readText(f.getPath)))
    assert(forms.length == 3)
    val byId = forms.map(_.asInstanceOf[graft.edn.Edn.EMap])
      .map(m => m.getKw("id").get -> m).toMap
    assert(byId(graft.edn.Edn.ELong(1)).getKw("name")
      .contains(graft.edn.Edn.EStr("a \"quoted\"")))
    // overwrite truncates
    df.limit(1).repartition(1).write.format("edn").mode("overwrite").save(dir)
    val after = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".edn"))
      .flatMap(f => graft.edn.Edn.parseAll(EdnSource.readText(f.getPath)))
    assert(after.length == 1)
  }

  test("limit pushdown stops parsing at the limit (eio/top semantics)") {
    // 3 good forms, then garbage: a limit-2 read must never reach the
    // garbage (proves the scan parses ≤ limit forms, not parse-all-
    // then-drop), while an unlimited read fails on it.
    val dir = java.nio.file.Files.createTempDirectory("ednlimit")
    val f = dir.resolve("data.edn")
    java.nio.file.Files.write(f,
      ("{:gid \"g1\" :name \"n1\" :sortname \"s1\"}\n" +
       "{:gid \"g2\" :name \"n2\" :sortname \"s2\"}\n" +
       "{:gid \"g3\" :name \"n3\" :sortname \"s3\"}\n" +
       "{:gid \"g4\" :broken ]]]]\n").getBytes)
    val read = spark.read.format("edn").schema(EdnSource.schemaFor(Mbrainz.artists))
      .load(f.toString)
    val limited = read.limit(2)
    assert(limited.queryExecution.executedPlan.toString.contains("limit=2"),
      "limit must appear in the scan description")
    assert(limited.collect().map(_.getAs[String]("name")).toSeq == Seq("n1", "n2"))
    intercept[org.apache.spark.SparkException](read.count())
  }

  test("permissive mode turns a parse failure into one error-as-data row") {
    val dir = java.nio.file.Files.createTempDirectory("ednperm")
    val f = dir.resolve("data.edn")
    java.nio.file.Files.write(f,
      ("{:gid \"g1\" :name \"n1\" :sortname \"s1\"}\n" +
       "{:gid \"g2\" :broken ]]]]\n" +
       "{:gid \"g3\" :name \"n3\" :sortname \"s3\"}\n").getBytes)
    val schema = EdnSource.schemaFor(Mbrainz.artists)
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val rows = spark.read.format("edn").schema(schema).option("mode", "permissive")
      .load(f.toString).collect()
    // one good row, then the anomaly row; the partition stops there
    // (EDN has no framing to resync on — reference stop-on-anomaly)
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("name") == "n1")
    assert(rows(1).getAs[String]("_corrupt_record") != null)
    assert(rows(0).getAs[String]("_corrupt_record") == null)
  }

  test("gzip-compressed EDN reads transparently by extension") {
    val dir = java.nio.file.Files.createTempDirectory("gzedn")
    val gz = dir.resolve("a.edn.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    out.write(("{:gid \"g1\" :name \"n1\" :sortname \"s1\"}\n" +
      "{:gid \"g2\" :name \"n2\" :sortname \"s2\"}\n").getBytes)
    out.close()
    val df = spark.read.format("edn").schema(EdnSource.schemaFor(Mbrainz.artists))
      .load(gz.toString)
    val rows = df.orderBy("row_idx").select("name").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("n1", "n2"))
  }

  test("gzip write round-trips through the extension-detecting scan") {
    val dir = java.nio.file.Files.createTempDirectory("gzw").toString + "/out"
    val src = EdnSource.readEntities(spark, artistsPath, Mbrainz.artists)
      .select("gid", "name", "sortname")
    src.write.format("edn").option("compression", "gzip").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(files.nonEmpty && files.forall(_.endsWith(".edn.gz")), files.mkString(","))
    val schema = org.apache.spark.sql.types.StructType(
      EdnSource.schemaFor(Mbrainz.artists).filterNot(_.name == "row_idx"))
    val back = spark.read.format("edn").schema(schema).load(dir)
    assert(back.count() == src.count())
    assert(back.select("gid").except(src.select("gid")).count() == 0)
  }

  test("missing schema is a clear error") {
    val e = intercept[Exception](spark.read.format("edn").load(artistsPath).count())
    assert(e.getMessage.contains("explicit schema"))
  }
}
