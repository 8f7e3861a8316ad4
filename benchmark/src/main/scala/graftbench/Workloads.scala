package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.sources.VersionedStore
import graft.streaming.Streaming

/** What one step of a pass can reach: the session, the input directory
  * as graft is given it, a directory no earlier pass has used, on the
  * untimed checking pass where to leave outputs for the oracle, and the
  * pass's CPU meter. */
final class Ctx(val spark: SparkSession, val data: String, val root: String,
                val checkDir: Option[String], val cpu: CpuMeter) {
  def checking: Boolean = checkDir.isDefined
}

/** One closed-loop step: a call into one graft module. */
sealed trait Step {
  def name: String
  def module: String
}

/** A call that returns a DataFrame; the benchmark materializes all of it.
  * `oracle` names the `SparkEntry.oracleSql` entry its output must equal. */
final case class Query(name: String, module: String, oracle: Option[String])(
    val call: Ctx => DataFrame) extends Step

/** A streaming query fed one landed file per micro-batch from
  * `<data>/stream/<source>/`; every micro-batch is one operation.
  * `start` returns the running query, `check` counts the rows in which
  * the stream's end state differs from its batch counterpart. */
final case class Stream(name: String, source: String)(
    val start: (Ctx, DataFrame, String) => StreamingQuery,
    val check: Ctx => Long) extends Step {
  def module: String = "streaming"
}

/** A workload's steps, and the seconds of untimed warming passes a run
  * makes between its checking pass and its timed passes. */
final case class Workload(steps: Seq[Step], warmS: Double)

/** The workloads. A pass takes 3 s (etl_star) to 13 s (corpus_dedup) on
  * 4 cores: a run makes a cold checking pass, its warming passes and its
  * timed passes, and every workload is run many times per comparison.
  * Passes keep getting faster for a while as the JIT compiles Spark's and
  * graft's code, so etl_star warms for 10 s; corpus_dedup's checking pass
  * takes ~30 s and a warming pass ~13 s more, which its runs cannot
  * afford within the benchmark's time budget. */
object Workloads {
  /** The `SparkEntry.queries` entry whose name starts with `prefix_`. */
  private def entry(prefix: String): String = {
    val hits = SparkEntry.queries.keys.filter(_.startsWith(prefix + "_")).toSeq
    require(hits.size == 1, s"no unique query entry for $prefix: $hits")
    hits.head
  }

  private def q(prefix: String, module: String): Query = {
    val name = entry(prefix)
    val oracle = Some(name).filter(SparkEntry.oracleSql.contains)
    Query(name, module, oracle)(c => SparkEntry.queries(name)(c.spark, c.data))
  }

  /** Relational, Events and Changes steps over the star schema: multi-join,
    * cube, sessionization, as-of join, SCD2 and merge upsert. */
  val etlStar: Seq[Step] = Seq(
    q("q05", "Relational"), q("q22", "Relational"), q("q31", "Events"),
    q("q33", "Events"), q("q116", "Changes"), q("q227", "Changes"))

  private def storeRoot(c: Ctx) = s"${c.root}/stores/ingest"

  /** Rows in one DataFrame and not the other, both ways. */
  private def diff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** An LLM corpus pipeline. The documents land as files: streaming exact
    * dedup (its end state must hold q50's distinct hashes) and ingest into
    * a fresh VersionedStore (whose latest version must hold every
    * document). Then the corpus is cleaned in batch: token stats, exact and
    * MinHash-LSH dedup, dedup clusters and cross-modal text+embedding
    * clusters (both the `clusters()` fixpoint), image dedup and exact
    * top-k over the embeddings. */
  val corpusDedup: Seq[Step] = Seq(
    Stream("dedupStream", "documents")(
      { (c, df, ckpt) =>
        val w = Streaming.dedupStream(df).writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
        c.checkDir match {
          case Some(dir) => w.format("parquet").option("path", s"$dir/dedupStream").start()
          case None => w.format("noop").start()
        }
      },
      c => diff(c.spark.read.parquet(s"${c.checkDir.get}/dedupStream").select("text_hash"),
        SparkEntry.queries(entry("q50"))(c.spark, c.data).select("text_hash"))),
    Stream("ingestStream", "documents")(
      (c, df, ckpt) => Streaming.ingestStream(df.select("doc_id", "text"), storeRoot(c))
        .option("checkpointLocation", ckpt).start(),
      c => diff(VersionedStore.read(c.spark, storeRoot(c)).select("doc_id", "text"),
        Tables.documents(c.spark, c.data).select("doc_id", "text"))),
    q("q40", "Text"), q("q50", "Dedup"), q("q52", "Dedup"), q("q55", "Dedup"),
    q("q65", "Dedup"), q("q124", "Multimodal"), q("q60", "Similarity"))

  /** Cross-modal dedup alone: clusters over the union of text and
    * embedding near-duplicate pairs, then the keep-best policy. */
  val crossmodal: Seq[Step] = Seq(q("q65", "Dedup"), q("q66", "Dedup"))

  def apply(name: String): Workload = name match {
    case "etl_star" => Workload(etlStar, warmS = 10)
    case "corpus_dedup" => Workload(corpusDedup, warmS = 0)
    case "crossmodal" => Workload(crossmodal, warmS = 0)
    case other => sys.error(s"unknown workload $other")
  }
}
