package graft

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.edn.Edn
import graft.edn.Edn._

/** Property-based tests (the reference declared test.check intent,
  * SURVEY §5.6): EDN print/parse round-trip over generated values, and
  * batching invariants over arbitrary sizes. Raw ScalaCheck generators
  * with fixed seeds (scalatestplus bridge isn't on the offline
  * classpath). */
class PropertySpec extends AnyFunSuite {

  private val genScalar: Gen[Edn] = Gen.oneOf(
    Gen.const(ENil),
    Gen.oneOf(true, false).map(EBool),
    Arbitrary.arbitrary[Long].map(ELong),
    Gen.alphaNumStr.map(EStr),
    Gen.asciiPrintableStr.map(EStr), // exercises escaping
    Gen.identifier.map(n => EKw("", n)),
    (for { ns <- Gen.identifier; n <- Gen.identifier } yield EKw(ns, n)),
    Gen.uuid.map(u => EUuid(u.toString.toLowerCase)))

  private def genEdn(depth: Int): Gen[Edn] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      4 -> genScalar,
      1 -> Gen.listOfN(3, genEdn(depth - 1)).map(xs => EVec(xs.toVector)),
      1 -> (for {
        ks <- Gen.listOfN(3, Gen.identifier)
        vs <- Gen.listOfN(3, genEdn(depth - 1))
      } yield EMap(ks.distinct.map(k => (EKw("", k): Edn)).zip(vs).toVector)))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("EDN print/parse round-trip over 500 generated values") {
    samples(genEdn(3), 500).foreach { v =>
      assert(Edn.parse(Edn.print(v)) == v, s"round-trip failed for: ${Edn.print(v)}")
    }
  }

  test("batching invariants: sizes, ids, order, content") {
    val cases = samples(for {
      size <- Gen.chooseNum(1, 50)
      n <- Gen.chooseNum(0, 120)
    } yield (size, n), 12)
    cases.foreach { case (batchSize, n) =>
      val lines = graft.ops.Batching.lines(
        (0 until n).iterator.map(i => s"{:e $i}"), batchSize, "t", "b/id").toVector
      val batches = lines.map(l => Edn.parse(l).asInstanceOf[EMap])
      assert(batches.length == (n + batchSize - 1) / batchSize)
      val data = batches.map(_.getKw("data").get.asInstanceOf[EVec].items)
      assert(data.flatten == (0 until n).map(i => EMap(kw("e") -> ELong(i))), "order-preserving concat")
      batches.zipWithIndex.foreach { case (b, i) =>
        assert(b.getKw("batch-ident").get.asInstanceOf[EMap].getKw("b/id").contains(EStr(s"t-${i + 1}")))
        if (i < batches.length - 1) assert(data(i).size == batchSize)
      }
    }
  }

  test("approx distinct stays within the configured error bound") {
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val row = graft.queries.Relational.q28_approx_distinct(spark, sf).collect()(0)
    val exactOrders = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey").distinct().count()
    assert(row.getAs[Long]("exact_orders") == exactOrders)
    assert(row.getAs[Boolean]("orders_ok") && row.getAs[Boolean]("parts_ok"),
      s"approx_count_distinct drifted past the 5% bound: $row")
  }

  /** The brute-force visibility model: a value (e, a, v) is visible
    * iff its latest op is an assert (same-tx tie → assert wins,
    * matching max_by's struct tiebreak where op=true > op=false).
    * Maps each visible value to its last assert tx. */
  private def visibleModel(rows: Seq[(String, String, String, Long, Boolean)])
      : Map[(String, String, String), Long] =
    rows.groupBy(r => (r._1, r._2, r._3)).flatMap { case (key, ds) =>
      val maxTx = ds.map(_._4).max
      val opAtMax = ds.filter(_._4 == maxTx).map(_._5).max // true > false
      if (opAtMax) Some(key -> ds.filter(_._5).map(_._4).max) else None
    }

  test("resolve equals a brute-force reference model on 60 random logs") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // random datom logs over a tiny universe — every combination of
    // re-assert / retract / re-assert-after-retract / same-tx ties
    // appears at this density
    val genDatom: Gen[(String, String, String, Long, Boolean)] = for {
      e <- Gen.oneOf("e1", "e2", "e3")
      a <- Gen.oneOf("one1", "one2", "many1")
      v <- Gen.oneOf("v1", "v2", "v3", "v4")
      tx <- Gen.choose(1L, 5L)
      op <- Gen.oneOf(true, false)
    } yield (e, a, v, tx, op)
    val genLog = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, genDatom))
    samples(genLog, 60).foreach { rows =>
      val df = rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
      val got = graft.store.Store.resolve(df, Seq("many1"))
        .select("e", "a", "v").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      // reference model: card-one keeps the visible value with the
      // greatest last-assert tx (tie → max v, matching the struct
      // tiebreak on (v, ...))
      val visible = visibleModel(rows)
      val expected = visible.toSeq.flatMap { case ((e, a, v), lastAssert) =>
        if (a == "many1") Seq((e, a, v))
        else {
          val siblings = visible.filter { case ((e2, a2, _), _) => e2 == e && a2 == a }
          val best = siblings.maxBy { case ((_, _, v2), t) => (t, v2) }
          if (best._1._3 == v) Seq((e, a, v)) else Seq.empty
        }
      }.toSet
      assert(got === expected, s"log: $rows")
    }
  }

  test("fulltextHits equals the model's visible values holding every needle token on 60 random logs") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // x/name and x/title are fulltext attrs; x/note is not and never
    // matches. Values share tokens across case and punctuation.
    val genDatom: Gen[(String, String, String, Long, Boolean)] = for {
      e <- Gen.oneOf("e1", "e2", "e3")
      a <- Gen.oneOf("x/name", "x/title", "x/note")
      v <- Gen.oneOf("Red Fox", "fox-trot", "Blue fox", "RED, fox!")
      tx <- Gen.choose(1L, 5L)
      op <- Gen.oneOf(true, false)
    } yield (e, a, v, tx, op)
    val genCase = for {
      n <- Gen.choose(1, 25)
      rows <- Gen.listOfN(n, genDatom)
      needle <- Gen.oneOf("fox", "RED fox", "trot", "blue")
    } yield (rows, needle)
    def tokens(s: String) = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
    samples(genCase, 60).foreach { case (rows, needle) =>
      val df = rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
      val hits = graft.query.Explore.fulltextHits(df, Seq("x/name", "x/title"), needle)
        .select("e", "a", "v", "tx").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      val expected = visibleModel(rows).filter { case ((_, a, v), _) =>
        a != "x/note" && tokens(needle).subsetOf(tokens(v)) }
      assert(hits.length === hits.toMap.size, s"one row per (e, a, v); log: $rows")
      // the (e, a, v) set and each value's last assert tx
      assert(hits.toMap === expected, s"needle: $needle, log: $rows")
    }
  }

  test("multi-horizon resolve/since equal per-horizon full resolution on 60 random logs") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // resolveAtHorizons/sinceAtHorizons collapse all horizons into one
    // pass (round-13 shape: conditional per-horizon aggregates, no
    // horizon explode before the shuffle) — pin that the collapsed form
    // equals running the single-horizon resolve per filtered log slice,
    // which PropertySpec already gates against the brute-force model.
    val genDatom: Gen[(String, String, String, Long, Boolean)] = for {
      e <- Gen.oneOf("e1", "e2", "e3")
      a <- Gen.oneOf("one1", "one2", "many1")
      v <- Gen.oneOf("v1", "v2", "v3", "v4")
      tx <- Gen.choose(1L, 5L)
      op <- Gen.oneOf(true, false)
    } yield (e, a, v, tx, op)
    val genLog = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, genDatom))
    val horizons = Seq(1L, 3L, 4L)
    samples(genLog, 60).foreach { rows =>
      val df = rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
      def toSet(d: org.apache.spark.sql.DataFrame, h: String) =
        d.select(col(h), col("e"), col("a"), col("v")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
          .toSet
      val asof = toSet(
        graft.store.Store.resolveAtHorizons(df, horizons, Seq("many1")), "asof_tx")
      val asofRef = horizons.flatMap { h =>
        graft.store.Store.resolve(df.filter(col("tx") <= h), Seq("many1"))
          .select("e", "a", "v").collect()
          .map(r => (h, r.getString(0), r.getString(1), r.getString(2)))
      }.toSet
      assert(asof === asofRef, s"as-of log: $rows")
      val since = toSet(
        graft.store.Store.sinceAtHorizons(df, horizons, Seq("many1")), "since_tx")
      val sinceRef = horizons.flatMap { h =>
        graft.store.Store.resolve(df.filter(col("tx") > h), Seq("many1"))
          .select("e", "a", "v").collect()
          .map(r => (h, r.getString(0), r.getString(1), r.getString(2)))
      }.toSet
      assert(since === sinceRef, s"since log: $rows")
    }
  }

  test("incremental resolve equals full resolve on 60 random logs (safe deltas)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val genDatom: Gen[(String, String, String, Long, Boolean)] = for {
      e <- Gen.oneOf("e1", "e2", "e3")
      a <- Gen.oneOf("one1", "one2", "many1")
      v <- Gen.oneOf("v1", "v2", "v3", "v4")
      tx <- Gen.choose(1L, 5L)
      op <- Gen.oneOf(true, false)
    } yield (e, a, v, tx, op)
    val genLog = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, genDatom))
    val basis = 3L
    samples(genLog, 60).foreach { rows0 =>
      // the incremental contract excludes card-ONE retractions in the
      // delta (current() routes those to the hybrid) — flip them to
      // asserts so every generated case is a mergeable shape
      val rows = rows0.map { case (e, a, v, tx, op) =>
        if (tx > basis && !op && a != "many1") (e, a, v, tx, true) else (e, a, v, tx, op)
      }
      val df = rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
      def toSet(d: org.apache.spark.sql.DataFrame) =
        d.select("e", "a", "v").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val full = toSet(graft.store.Store.resolve(df, Seq("many1")))
      val snap = graft.store.Store.resolve(df.filter(col("tx") <= basis), Seq("many1"))
      // the no-snapshot-shuffle merge's anti-join formulation must
      // agree with full resolution on every mergeable delta
      val inc = toSet(graft.store.Store.resolveIncremental(
        snap, df.filter(col("tx") > basis), Seq("many1")))
      assert(inc === full, s"log: $rows")
    }
  }

  test("hybrid incremental resolve equals full resolve with card-one retractions in the delta") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val genDatom: Gen[(String, String, String, Long, Boolean)] = for {
      e <- Gen.oneOf("e1", "e2", "e3")
      a <- Gen.oneOf("one1", "one2", "many1")
      v <- Gen.oneOf("v1", "v2", "v3", "v4")
      tx <- Gen.choose(1L, 5L)
      op <- Gen.oneOf(true, false)
    } yield (e, a, v, tx, op)
    val genLog = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, genDatom))
    val basis = 3L
    // UNLIKE the safe-delta case no shape is rewritten: generated
    // deltas carry card-one retractions, the exact pattern the plain
    // incremental merge cannot handle (an older value must resurface
    // from pre-snapshot history)
    samples(genLog, 60).foreach { rows =>
      val df = rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
      def toSet(d: org.apache.spark.sql.DataFrame) =
        d.select("e", "a", "v").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val full = toSet(graft.store.Store.resolve(df, Seq("many1")))
      val snap = graft.store.Store.resolve(df.filter(col("tx") <= basis), Seq("many1"))
      val hyb = toSet(graft.store.Store.resolveIncrementalHybrid(
        snap, df.filter(col("tx") > basis), df, Seq("many1")))
      assert(hyb === full, s"log: $rows")
    }
  }

  test("current() takes the incremental path on a card-one retraction and matches a full re-resolve") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.store.Store
    import graft.model.{AttrDef, SchemaRegistry}
    val st = new Store(spark, java.nio.file.Files.createTempDirectory("hybinc").toString)
    val reg = new SchemaRegistry(Map(
      "p/one" -> AttrDef("p/one", "string", many = false, uniqueIdentity = false,
        uniqueValue = false, component = false, fulltext = false),
      "p/many" -> AttrDef("p/many", "string", many = true, uniqueIdentity = false,
        uniqueValue = false, component = false, fulltext = false)))
    def datoms(rows: Seq[(String, String, String, Long, Boolean)]) =
      rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
        .select("e", "a", "v", "v_long", "is_ref", "tx", "op")
    // tx1 asserts v1, tx2 supersedes with v2 — snapshot keeps only v2
    st.append(datoms(Seq(("e1", "p/one", "v1", 1L, true), ("e1", "p/one", "v2", 2L, true))))
    st.current(reg).count() // build the maintained snapshot
    // tx3 retracts v2: v1 must RESURFACE, and the merge must be the
    // hybrid incremental path, not a full rebuild
    st.append(datoms(Seq(("e1", "p/one", "v2", 3L, false))))
    val got = st.current(reg).select("e", "a", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(st.lastCurrentIncremental,
      "card-one retraction should take the hybrid incremental path")
    assert(got === Set(("e1", "p/one", "v1")))
    def fullResolve = Store.resolve(st.eav, Seq("p/many"))
      .select("e", "a", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === fullResolve)
    // tx4 asserts a new card-one value and two card-many values, tx5
    // retracts a card-many value the snapshot now holds: no card-ONE
    // retraction, so both merges take the live-index path (no
    // snapshot shuffle)
    st.append(datoms(Seq(("e2", "p/one", "w1", 4L, true),
      ("e1", "p/many", "m1", 4L, true), ("e1", "p/many", "m2", 4L, true))))
    st.current(reg).count()
    assert(st.lastCurrentIncremental, "an assert-only append should merge incrementally")
    st.append(datoms(Seq(("e1", "p/many", "m1", 5L, false))))
    val got2 = st.current(reg).select("e", "a", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(st.lastCurrentIncremental, "a card-many retraction should merge incrementally")
    assert(got2 === Set(("e1", "p/one", "v1"), ("e2", "p/one", "w1"), ("e1", "p/many", "m2")))
    assert(got2 === fullResolve)
  }

  test("every resolve entry point fails loudly on a negative tx") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.store.Store
    // the packed (tx << 1) + op ordering misorders a negative tx, so
    // the kernel rejects one instead of resolving it silently wrong,
    // and an append fails instead of writing one
    val log = Seq(("e1", "nh1", "v1", -1L, true), ("e1", "nh1", "v2", 1L, true))
      .toDF("e", "a", "v", "tx", "op")
      .withColumn("v_long", lit(null).cast("long"))
      .withColumn("is_ref", lit(false))
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("negtx").toString)
    val entryPoints = Seq[(String, () => Unit)](
      "resolve" -> (() => Store.resolve(log, Seq.empty).collect()),
      "resolveAtHorizons" -> (() => Store.resolveAtHorizons(log, Seq(1L), Seq.empty).collect()),
      "sinceAtHorizons" -> (() => Store.sinceAtHorizons(log, Seq(0L), Seq.empty).collect()),
      "dropNoHistory" -> (() => Store.dropNoHistory(log, Seq("nh1"), Seq.empty).collect()),
      "append" -> (() => store.append(log)))
    entryPoints.foreach { case (name, run) =>
      val err = intercept[Exception](run())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("negative tx")), s"$name: $err")
    }
  }

  test("tuple encode/decode round-trips over generated slot values") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // space-free, non-"nil" strings (the text encoding's documented
    // constraints), longs and doubles, each independently nullable
    val genStr = Gen.oneOf(Gen.alphaNumStr.map(_.take(8))
        .suchThat(s => s.nonEmpty && s != "nil"),
      Gen.const("x"))
    val genRow: Gen[(Option[String], Option[Long], Option[Double])] = for {
      s <- Gen.option(genStr)
      n <- Gen.option(Gen.choose(-999999L, 999999L))
      x <- Gen.option(Gen.oneOf(1.5, -2.25, 0.0, 1234.0625))
    } yield (s, n, x)
    val rows = samples(genRow, 120).zipWithIndex
      .map { case ((s, n, x), i) => (i.toLong, s, n, x) }
    val df = rows.toDF("id", "s", "n", "x")
    val datoms = graft.store.Store.tupleDatoms(df, col("id").cast("string"),
      "t/snx", Seq(col("s"), col("n"), col("x")),
      Seq("string", "long", "double"), tx = 1L)
    val back = datoms.select(col("e"),
        graft.store.Store.tupleSlot(col("v"), 0, "string").as("s"),
        graft.store.Store.tupleSlot(col("v"), 1, "long").as("n"),
        graft.store.Store.tupleSlot(col("v"), 2, "double").as("x"))
      .collect().map { r =>
        (r.getString(0).toLong,
          Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }.sortBy(_._1)
    assert(back.toSeq === rows.toSeq, "tuple round-trip must be lossless")
  }

  test("exotic value lanes (bytes/bigint/bigdec) round-trip through tuple encoding") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val genRow: Gen[(Option[String], Option[String], Option[Array[Byte]])] = for {
      // bigints beyond Long range, negative, zero; bigdecs at mixed scales
      bi <- Gen.option(Gen.oneOf("0", "-7", "92233720368547758080",
        "-123456789012345678901234567", "42"))
      bd <- Gen.option(Gen.oneOf("0", "1.5", "-2.25", "0.000000000000000001",
        "99999999999999999999.5"))
      by <- Gen.option(Gen.oneOf(Array[Byte](), Array[Byte](0, 1, 2, -1),
        Array[Byte](127, -128), "text bytes".getBytes("UTF-8").asInstanceOf[Array[Byte]]))
    } yield (bi, bd, by)
    val rows = samples(genRow, 80).zipWithIndex
      .map { case ((bi, bd, by), i) => (i.toLong, bi, bd, by) }
    val df = rows.toDF("id", "bi", "bd", "by")
      .select(col("id"), col("bi").cast("decimal(38,0)").as("bi"),
        col("bd").cast("decimal(38,18)").as("bd"), col("by"))
    val want = df.collect().map(r => (r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString),
      Option(r.getDecimal(2)).map(_.toPlainString),
      Option(r.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq))).sortBy(_._1).toSeq
    // tuple lane
    val datoms = graft.store.Store.tupleDatoms(df, col("id").cast("string"),
      "t/exotic", Seq(col("bi"), col("bd"), col("by")),
      Seq("bigint", "bigdec", "bytes"), tx = 1L)
    val back = datoms.select(col("e"),
        graft.store.Store.tupleSlot(col("v"), 0, "bigint").as("bi"),
        graft.store.Store.tupleSlot(col("v"), 1, "bigdec").as("bd"),
        graft.store.Store.tupleSlot(col("v"), 2, "bytes").as("by"))
      .collect().map(r => (r.getString(0).toLong,
        Option(r.getDecimal(1)).map(_.toPlainString),
        Option(r.getDecimal(2)).map(_.toPlainString),
        Option(r.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq))).sortBy(_._1).toSeq
    assert(back === want, "tuple lane must round-trip bytes/bigint/bigdec losslessly")
  }

  test("dropNoHistory: current view preserved; nh rows = exactly the visible datoms") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val genDatom: Gen[(String, String, String, Long, Boolean)] = for {
      e <- Gen.oneOf("e1", "e2", "e3")
      a <- Gen.oneOf("one1", "one2", "many1") // one1/many1 are noHistory
      v <- Gen.oneOf("v1", "v2", "v3", "v4")
      tx <- Gen.choose(1L, 5L)
      op <- Gen.oneOf(true, false)
    } yield (e, a, v, tx, op)
    val genLog = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, genDatom))
    def resolved(df: org.apache.spark.sql.DataFrame) =
      graft.store.Store.resolve(df, Seq("many1"))
        .select("e", "a", "v").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    samples(genLog, 40).foreach { rows =>
      val df = rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
      val trimmed = graft.store.Store.dropNoHistory(df,
        Seq("one1", "many1"), Seq("many1"))
      // the current view reads identically through the trimmed log
      assert(resolved(trimmed) === resolved(df), s"log: $rows")
      // non-noHistory rows pass through as an exact multiset
      val other = (d: org.apache.spark.sql.DataFrame) =>
        d.filter(col("a") === "one2").select("e", "a", "v", "tx", "op").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2),
            r.getLong(3), r.getBoolean(4))).groupBy(identity).view.mapValues(_.length).toMap
      assert(other(trimmed) === other(df), s"log: $rows")
      // nh rows are all asserts whose (e,a,v) is EXACTLY the visible set
      val nhKept = trimmed.filter(col("a") =!= "one2")
        .select("e", "a", "v", "op").collect()
      assert(nhKept.forall(_.getBoolean(3)), s"retraction survived: log $rows")
      val visibleNh = resolved(df).filter(_._2 != "one2")
      assert(nhKept.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
        === visibleNh, s"log: $rows")
      // and one row per visible datom — no duplicates
      assert(nhKept.length === visibleNh.size, s"log: $rows")
    }
  }

  test("duplicateSpans matches a brute-force reference over random corpora (both key variants)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // tiny lowercase-alnum vocab so spans actually collide across docs
    // and the Scala tokenizer below agrees with word_ngrams(lower, 1)
    val vocab = Vector("a", "bb", "ccc", "dd", "e1", "f2", "gg", "h3")
    val genDoc = for {
      len <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val w = 2
    samples(Gen.listOfN(8, genDoc), 6).foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val wins = texts.map(_.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
        .zipWithIndex.map { case (ts, i) =>
          (i.toLong, ts.sliding(w).filter(_.size == w).map(_.mkString(" ")).toSeq)
        }
      val census = wins.flatMap { case (i, ss) => ss.distinct.map(s => (s, i)) }
        .groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).distinct.size) }
      val expected = wins.map { case (i, ss) =>
        val n = ss.size.toLong
        val dup = ss.count(s => census(s) >= 2).toLong
        i -> ((n, dup, if (n == 0) 0L else dup * 10000 / n))
      }.toMap
      def run(hash: Boolean) = graft.queries.Llm
        .duplicateSpans(docs, window = w, hashSpans = hash)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(run(false) === expected, s"texts: $texts")
      assert(run(true) === expected, s"hashed lane, texts: $texts")
    }
  }
}
