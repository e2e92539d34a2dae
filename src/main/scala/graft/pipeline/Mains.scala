package graft.pipeline

import graft.edn.Edn
import graft.edn.Edn._
import graft.model.SchemaRegistry
import graft.store.Store

/** E1 CLI: `graft.pipeline.BatchMain <basedir> <batch-size>`
  * (reference `src/datomic/mbrainz/importer/batch.clj:10-20`). */
object BatchMain {
  def main(args: Array[String]): Unit = {
    val Array(basedir, batchSize) = args
    val spark = graft.Harness.session()
    val b = new Batcher(spark, basedir, s"$basedir/batches", batchSize.toInt)
    b.runAll().toSeq.sortBy(_._1).foreach { case (t, n) => println(s"$t: $n batches") }
    spark.stop()
  }
}

/** Manifest (reference `::manifest` spec, importer.clj:37-38 —
  * conform!-style fail-fast validation). `client-cfg`/`db-name` become
  * the store directory. */
final case class Manifest(storeDir: String, basedir: String, concurrency: Int,
    importOrder: Seq[String])

object Manifest {
  def parse(edn: String): Manifest = {
    val m = Edn.parse(edn) match {
      case em: EMap => em
      case other => fail(s"manifest must be a map, got: $other")
    }
    def req(k: String): Edn =
      m.getKw(k).getOrElse(fail(s"manifest missing required key :$k"))
    val storeDir = req("store-dir") match {
      case EStr(s) => s; case o => fail(s":store-dir must be a string: $o") }
    val basedir = req("basedir") match {
      case EStr(s) => s; case o => fail(s":basedir must be a string: $o") }
    val conc = req("concurrency") match {
      case ELong(n) if n > 0 => n.toInt; case o => fail(s":concurrency must be a positive int: $o") }
    val order = m.getKw("import-order") match {
      case Some(EVec(items)) => items.map {
        case k: EKw => k.name; case o => fail(s"bad import-order entry: $o") }
      case None => graft.model.Mbrainz.importOrder
      case Some(o) => fail(s":import-order must be a vector: $o")
    }
    val repeated = order.diff(order.distinct).distinct
    if (repeated.nonEmpty) fail(s":import-order names a type twice: ${repeated.mkString(", ")}")
    Manifest(storeDir, basedir, conc, order)
  }
  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
}

/** E2 CLI: `graft.pipeline.ImportMain <manifest.edn>`
  * (reference `-main`, importer.clj:318-352). Idempotent: re-running
  * skips applied batches (`Loader.loadAll`). */
object ImportMain {
  def main(args: Array[String]): Unit = {
    val Array(manifestPath) = args
    val manifest = Manifest.parse(graft.sources.EdnSource.readText(manifestPath))
    val spark = graft.Harness.session()
    val registry = SchemaRegistry.load(s"${manifest.basedir}/entities/schema.edn")
    val store = new Store(spark, manifest.storeDir)
    val loader = new Loader(spark, registry, store, manifest.concurrency)
    val t0 = System.nanoTime()
    val stats = loader.loadAll(s"${manifest.basedir}/batches", manifest.importOrder)
    manifest.importOrder.foreach { tpe =>
      stats.get(tpe) match {
        case Some(s) => println(s"$tpe: {:txes ${s.txes} :datoms ${s.datoms}}")
        case None => println(s"$tpe: no batch file, skipped")
      }
    }
    println(f"elapsed ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
