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

  test("v2 scan equals driver-side parse on artists.edn") {
    // every generated entity file, artists.edn among them
    val files = Mbrainz.importOrder.filter(Mbrainz.byName.contains)
    assert(files.size == 7)
    files.foreach { file =>
      val t = Mbrainz.byName(file)
      val path = MbrainzFixture.entityPath(file)
      val v2 = EdnSource.readEntities(spark, path, t)
      val drv = EdnSource.readEntitiesDriver(spark, path, t)
      assert(v2.count() == MbrainzFixture.forms(file), file)
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
    val tmp = java.nio.file.Files.createTempDirectory("multi")
    // Spark passes the paths as a JSON array: a comma in a path must
    // not split it
    for (dir <- Seq(tmp, java.nio.file.Files.createDirectory(tmp.resolve("a,b")))) {
      java.nio.file.Files.write(dir.resolve("a.edn"), "{:gid \"g1\" :name \"n1\" :sortname \"s1\"}\n".getBytes)
      java.nio.file.Files.write(dir.resolve("b.edn"), "{:gid \"g2\" :name \"n2\" :sortname \"s2\"}\n".getBytes)
      val df = spark.read.format("edn").schema(EdnSource.schemaFor(Mbrainz.artists))
        .load(dir.resolve("a.edn").toString, dir.resolve("b.edn").toString)
      val rows = df.orderBy("row_idx").select("name").collect().map(_.getString(0))
      assert(rows.toSeq == Seq("n1", "n2"), dir.toString)
    }
  }

  test("a directory reads its visible files in name order, .edn.gz among them") {
    val dir = java.nio.file.Files.createTempDirectory("edndir")
    def form(n: Int) = s"{:gid \"g$n\" :name \"n$n\" :sortname \"s$n\"}\n"
    // created out of name order, so the listing order shows nothing
    java.nio.file.Files.write(dir.resolve("b.edn"), form(2).getBytes)
    java.nio.file.Files.write(dir.resolve("a.edn"), (form(0) + form(1)).getBytes)
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("c.edn.gz")))
    gz.write(form(3).getBytes)
    gz.close()
    java.nio.file.Files.write(dir.resolve(".hidden.edn"), form(8).getBytes)
    java.nio.file.Files.write(dir.resolve("_meta"), "not edn ]]]".getBytes)
    val rows = spark.read.format("edn").schema(EdnSource.schemaFor(Mbrainz.artists))
      .load(dir.toString).select("row_idx", "name").collect()
      .map(r => (r.getLong(0) >> 40, r.getLong(0) & ((1L << 40) - 1), r.getString(1)))
    // (file ordinal, form ordinal, name): a.edn is file 0, b.edn 1, c.edn.gz 2
    assert(rows.sorted.toSeq == Seq((0L, 0L, "n0"), (0L, 1L, "n1"), (1L, 0L, "n2"), (2L, 0L, "n3")))
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

  test("driver-side reads decompress by extension too: readEnums on enums.edn.gz") {
    val plain = MbrainzFixture.entityPath("enums")
    val gz = java.nio.file.Files.createTempDirectory("gzenums").resolve("enums.edn.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    out.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(plain)))
    out.close()
    val enums = EdnSource.readEnums(plain)
    assert(enums.nonEmpty)
    assert(EdnSource.readEnums(gz.toString) == enums)
  }

  test("missing schema is a clear error") {
    val e = intercept[Exception](spark.read.format("edn").load(artistsPath).count())
    assert(e.getMessage.contains("explicit schema"))
  }
}
