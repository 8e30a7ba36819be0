package dedupbench

import dedup._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** One timed interval: `parent` is the enclosing span's name ("" at the
  * root). Spans are kept in memory and written out when the run ends. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls made from the benchmark's own code. A span
  * opened with [[stage]] also runs its body under a Spark job group of
  * the same name, so [[TaskMetricsByGroup]] attributes its tasks to it. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List[String]()

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.getOrElse("")
    open = name :: open
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, t0, System.nanoTime())
      open = open.tail
    }
  }

  def stage[T](name: String)(body: => T): T = span(name) {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}

/** The default `Pipeline.runOne` chain (ids → shingles → bands →
  * candidates → verified → [simhash-edges] → [suffix-edges] → components
  * → assignments → kept), composed stage by stage from the same public
  * calls inside `CheckpointStore.stage`, each under its own span. Only
  * the flags the benchmark workloads use (`--simhash`, `--suffix`) are
  * reproduced; the traced output must equal `Pipeline.run`'s. */
object TracedPipeline {

  val StageNames: Seq[String] = Seq("ids", "shingles", "bands", "candidates", "verified",
    "simhash_edges", "suffix_edges", "components", "assignments", "kept")

  final case class Result(kept: DataFrame, assignments: DataFrame, store: CheckpointStore,
      docs: DataFrame, shingles: DataFrame)

  def run(spark: SparkSession, args: Pipeline.Args, root: String, tr: Tracer): Result = {
    import spark.implicits._
    val cfg = args.cfg
    val store = tr.span("open_store") {
      new CheckpointStore(spark, root,
        cfg.configHash + (if (args.simhash) "+sh" else "") + (if (args.suffix) "+sa" else ""),
        CheckpointStore.inputFingerprint(spark, args.input))
    }
    val pages = spark.read.schema(Page.schema).parquet(args.input)
    val docs = tr.stage("ids") {
      store.stage("ids") {
        pages.select(xxhash64(col("url")).as("id"), col("url"), col("text"))
      }
    }
    tr.stage("ids_audit") {
      val collisions = Ids.idCollisions(docs, "id", "text")
      require(collisions == 0L, s"$collisions doc id(s) carry multiple distinct contents")
    }
    val shingles = tr.stage("shingles") {
      store.stage("shingles")(Lsh.shingleSets(docs, cfg).toDF())
    }
    val shingleDs = shingles.as[DocShingles]
    val bands = tr.stage("bands") {
      store.stage("bands")(Lsh.bandKeys(shingleDs, cfg).toDF())
    }.as[BandKey]
    val candidates = tr.stage("candidates") {
      store.stage("candidates") {
        Lsh.groupEdges(bands, cfg.saltBuckets, cfg.allPairsCap, cfg.chainEdges)
      }
    }
    val verified = tr.stage("verified") {
      store.stage("verified") {
        VerifyPairs.verifyJaccard(candidates, shingleDs, cfg.threshold)
          .select(col("src"), col("dst"))
      }
    }
    val simEdges =
      if (!args.simhash) None
      else Some(tr.stage("simhash_edges")(simhashStage(store, shingleDs, cfg)))
    val saEdges =
      if (!args.suffix) None
      else Some(tr.stage("suffix_edges")(suffixStage(store, docs, cfg)))
    val components = tr.stage("components") {
      store.stage("components") {
        ConnectedComponents.runAdaptive(
          (Seq(verified) ++ simEdges ++ saEdges).reduce(_ unionByName _))
      }
    }
    val assignments = tr.stage("assignments") {
      store.stage("assignments") {
        ConnectedComponents.assignAll(docs.select(col("id")), components)
      }
    }
    val kept = tr.stage("kept") {
      store.stage("kept", chunkRows = Some(args.chunkRows)) {
        val removal = assignments.where(col("id") =!= col("component")).select(col("id"))
        pages.withColumn("id", xxhash64(col("url"))).join(removal, Seq("id"), "left_anti")
      }
    }
    tr.span("summary")(store.writeRunSummary())
    tr.stage("counts") { assignments.count(); kept.count() }
    Result(kept, assignments, store, docs, shingles)
  }

  def simhashStage(store: CheckpointStore, shingles: org.apache.spark.sql.Dataset[DocShingles],
      cfg: DedupConfig): DataFrame =
    store.stage("simhash_edges") {
      SimHash.verifiedEdges(shingles, cfg).select(col("src"), col("dst"))
    }

  def suffixStage(store: CheckpointStore, docs: DataFrame, cfg: DedupConfig): DataFrame =
    store.stage("suffix_edges") {
      SuffixDedup.verifiedEdges(docs, cfg).select(col("src"), col("dst"))
    }
}
