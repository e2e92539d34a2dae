package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Mbrainz, SchemaRegistry}
import graft.ops.EdnRender
import graft.store.{Datoms, Store}

/** One datom of a load: a row of the EAV log (`Store.schema` column
  * names, `op` defaulted on append) tagged with the entity type whose
  * batch file it came from. `tx_row` marks the one `:db/txInstant`
  * datom the loader adds per transaction, so counting it counts txes. */
private[pipeline] final case class LoadRow(tpe: String, e: String, a: String, v: String,
    v_long: Option[Long], is_ref: Boolean, tx: Long, tx_row: Boolean)

/** E2 — the loader pipeline (reference `-main`/`load-type`,
  * importer.clj:298-352): batch EDN → skip already-applied batches →
  * transact into the store → fold `{txes, datoms}` metrics per type.
  *
  * An import is ONE Spark pass and ONE append, whatever the number of
  * batch files ([[load]]):
  *  - the applied batch-id set is read from the log once and collected
  *    to the driver (bounded by the number of batches, not datoms);
  *  - the files' lines are unioned, each tagged with its type and type
  *    index, with one in-memory line: the import-schema (the batch-id
  *    attribute the reference transacts first, importer.clj:271-277);
  *    lines whose batch id is applied, the import-schema's included,
  *    are filtered out with that set (a broadcast; no join, no shuffle);
  *  - the rest expand to datoms on executors behind
  *    `repartition(concurrency)` — the reference's `pipeline-blocking n`
  *    bounded write parallelism;
  *  - one aggregate grouped by type yields every type's [[LoadStats]],
  *    and the accepted datoms land in one `store.append`, retried with
  *    backoff on transient IO errors. Per-batch transactional conflicts
  *    cannot arise because the append is the whole load
  *    (conflict-as-success, batch.clj:97-101, degenerates to the
  *    applied-id filter);
  *  - that append is hash-partitioned on `a` into `concurrency` tasks.
  *    The log is `partitionBy("a")`, so a write task writes one file
  *    per attribute it holds: round-robin rows gave every task nearly
  *    every attribute (276 files for 72,100 datoms on the benchmark's
  *    import, each task mostly opening and closing files). Hashed, each
  *    attribute lands in one task, so one load writes one file per
  *    attribute loaded. The price is one more job per load, a one-tx
  *    load's too (the exchange's map stage), and skew: an attribute is
  *    never split. In the generated mbrainz data the five track and
  *    medium attributes hold 15 % of the datoms each (scales 0.01 to
  *    0.2), and hashed into 8 tasks the fullest task holds 31 %. On 4
  *    cores that still loaded no slower than range partitioning on
  *    (a, e), which splits attributes but samples the datoms in a job
  *    of its own: 276,435 datoms (scale 0.2) in 2.23 s against 2.33 s,
  *    and 69,172 (scale 0.05) in 1.42 s against 1.85 s (medians of
  *    in-process alternations). Since no task holds less than its largest
  *    attribute, the append stops scaling at about 1 / 0.15 ≈ 7 busy
  *    cores.
  *
  * Why the types need no order here: the reference imports them one
  * after another because Datomic resolves lookup refs against existing
  * entities at transact time (importer.clj:343-348). Graft resolves
  * nothing at load time — e-keys are deterministic strings
  * (`store/Datoms`), refs are stored as those keys, and each tx is
  * fixed by the batch's type and number (`Mbrainz.batchTx`) — so the
  * resolved state does not depend on the order in which types are
  * written. A type outside `Mbrainz.importOrder` (an update) gets the
  * range above every import type's, so its txes are the latest. The
  * import-schema takes tx 0, unused by data batches (`n >= 1`), so it
  * sorts first.
  *
  * `:db/txInstant` is one wall-clock instant per [[load]] call, shared
  * by every transaction of that call, the import-schema's included.
  */
final class Loader(spark: SparkSession, registry: SchemaRegistry, store: Store,
    concurrency: Int = 8) {

  final case class LoadStats(txes: Long, datoms: Long)

  /** Transact the fresh import-schema and batches of every `(type,
    * batch file)` in one pass; returns each given type's stats (zeros
    * for a type with nothing fresh). Each type may appear once. */
  def load(files: Seq[(String, String)]): Map[String, LoadStats] = {
    val types = files.map(_._1)
    require(types.distinct.size == types.size,
      s"load: a type may appear once, repeated: ${types.diff(types.distinct).distinct.mkString(", ")}")
    val zeros = types.map(_ -> LoadStats(0, 0)).toMap
    val reg = registry

    val applied = spark.sparkContext.broadcast(
      store.appliedBatchIds.as(Encoders.STRING).collect().toSet)
    // Cheap batch-id extraction: the batcher renders canonical batch
    // lines, whose id `EdnRender.batchIdOf` reads without parsing the
    // batch EDN at all — already-applied batches are never parsed on
    // resume, and fresh batches parse exactly once (below).
    // Non-canonical lines fall back to the full parse.
    val lines = (files.map { case (tpe, path) =>
      spark.read.textFile(path).filter(length(trim(col("value"))) > 0)
        .select(lit(tpe).as("_1"), lit(Mbrainz.txRangeIndex(tpe)).as("_2"),
          col("value").as("_3"))
    } :+ spark.createDataFrame(Seq((Loader.importSchemaType, 0, Loader.importSchemaLine))))
      .reduce(_ union _).as(Encoders.tuple(Encoders.STRING, Encoders.scalaInt, Encoders.STRING))
    val fresh = lines.filter { case (_, typeIdx, line) =>
      val batchId = EdnRender.batchIdOf(Mbrainz.batchIdAttr, line)
        .getOrElse(Datoms.batchDatoms(line, reg, typeIdx)._1)
      !applied.value.contains(batchId)
    }.repartition(concurrency)

    // `:db/txInstant` — one wall-clock datom per transaction entity
    // (Datomic's transactor stamps exactly this). Captured ONCE on the
    // driver so every batch of this load shares an instant and reruns
    // of the same executor task emit identical rows.
    val loadedAtMs = System.currentTimeMillis()
    val loadedAtIso = java.time.Instant.ofEpochMilli(loadedAtMs).toString
    val datoms = fresh.flatMap { case (tpe, typeIdx, line) =>
      val (batchId, ds) = Datoms.batchDatoms(line, reg, typeIdx)
      val tx = if (tpe == Loader.importSchemaType) 0L else ds.head.tx
      ds.map(d => LoadRow(tpe, d.e, d.a, d.v, d.vLong, d.isRef, tx, tx_row = false)) :+
        LoadRow(tpe, s"tx|$batchId", Store.txInstantAttr, loadedAtIso,
          Some(loadedAtMs), is_ref = false, tx, tx_row = true)
    }(Encoders.product[LoadRow]).toDF().persist()
    try {
      val stats = datoms.groupBy(col("tpe")).agg(count(when(col("tx_row"), 1)), count(lit(1)))
        .collect().map(r => r.getString(0) -> LoadStats(r.getLong(1), r.getLong(2)))
      // append keeps only the log's columns: `tpe` and `tx_row` drop there
      if (stats.nonEmpty) Retry.retrying(() => {
        store.append(datoms.repartition(concurrency, col("a"))); ()
      }, Retry.transientIo)
      zeros ++ stats.filter { case (t, _) => zeros.contains(t) }
    } finally { datoms.unpersist(); applied.destroy() }
  }

  /** One batch file of one type: [[load]] of that file alone. */
  def loadBatchFile(tpe: String, path: String): LoadStats = load(Seq(tpe -> path))(tpe)

  /** One [[load]] over every type's batch file in `batchesDir` that
    * exists (the import-schema rides it even when none does). */
  def loadAll(batchesDir: String, types: Seq[String] = Mbrainz.importOrder): Map[String, LoadStats] = {
    val fs = new Path(batchesDir).getFileSystem(spark.sessionState.newHadoopConf())
    load(types.map(t => t -> s"$batchesDir/$t.edn").filter(f => fs.exists(new Path(f._2))))
  }
}

private object Loader {
  /** The import-schema batch the reference transacts before any data
    * (importer.clj:271-277): the batch-id attribute itself. */
  val importSchemaType = "import-schema"
  val importSchemaLine: String = EdnRender.batchLine(Mbrainz.batchIdAttr, "import-schema-1", Seq(
    "{:db/ident :" + Mbrainz.batchIdAttr + ", " +
      ":db/valueType :db.type/string, :db/cardinality :db.cardinality/one, " +
      ":db/unique :db.unique/value, " +
      ":db/doc \"Identifies batches from the initial import\"}"))
}
