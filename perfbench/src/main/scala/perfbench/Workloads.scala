package perfbench

import graft.Corpus

import scala.util.Random

/** One operation of a workload. `key` names its pinned result hash. */
sealed trait Op {
  def key: String
}

/** An `ask` request. `route` is "ask" (LLM front-end → Runner.run) or
  * "runSql" (trusted text → Runner.runSql). For "ask", `question` is what
  * the user typed and `completion` is what the stub model answers. */
final case class AskOp(key: String, route: String, question: String, completion: String,
                       original: String) extends Op

/** A batch or streaming `SparkEntry.queries` entry, built and materialized. */
final case class EntryOp(key: String, family: String) extends Op

/** `ops` run in every pass. `tracedOps` run only in a traced run, in its
  * cold pass (which warms them) and its traced passes: they feed per-layer
  * numbers and never an end-to-end metric. `passSeconds` is the measured
  * warm time of one pass of `ops` on a 4-core host; it turns `--seconds`
  * into a fixed number of measured passes. With `entryLatency` the latency
  * quantiles are taken over each operation's median latency instead of
  * over single samples: for a few operations whose times differ
  * severalfold, a quantile over single samples only says which operation
  * sits at that rank. */
final case class Workload(name: String, sf: String, ops: IndexedSeq[Op], tracedOps: IndexedSeq[Op],
                          passSeconds: Double, entryLatency: Boolean)

object Workloads {
  val names: Seq[String] = Seq("ask", "curate")

  /** Every AskEvery-th corpus text makes up one `ask` pass. */
  val AskEvery = 8

  /** curate entries and their operator families: one batch entry per
    * family. */
  val curateEntries: Seq[(String, String)] = Seq(
    "q40_minhash_neardup" -> "dedup",
    "q53_ann_ivf" -> "embed",
    "q97_embed_clusters" -> "clusters",
    "q174_span_removal" -> "spans",
    "q188_nb_langid" -> "classify")

  /** Entries that run in traced runs only. q80's warm materialization
    * (9 to 12 s at sf0.01, about 140 single-stage jobs) would take as long
    * as the other entries together. q204, the streaming gate ensemble run
    * to completion, brings the streaming layers and the per-trigger
    * gateBatchDecisions leak; its time moved by a third from run to run
    * and from pass to pass, more than any batch entry's. */
  val curateTracedEntries: Seq[(String, String)] = Seq(
    "q80_profile" -> "profile",
    "q204_stream_gate_ensemble" -> "stream")

  /** The families `operators.<family>.wall_s` reports. q204 has none of
    * its own: the streaming layers cover it. */
  val families: Seq[String] = Seq("dedup", "embed", "clusters", "spans", "classify", "profile")

  private def entryOps(es: Seq[(String, String)]): IndexedSeq[Op] =
    es.map { case (k, f) => EntryOp(k, f) }.toIndexedSeq

  def apply(name: String, seed: Long): Workload = name match {
    case "ask" => Workload("ask", "sf0.01", askRequests(seed), IndexedSeq.empty, passSeconds = 6.0,
      entryLatency = false)
    case "curate" => Workload("curate", "sf0.01", entryOps(curateEntries), entryOps(curateTracedEntries),
      passSeconds = 8.0, entryLatency = true)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  private val LimitToken = """(?i)\blimit\b""".r
  private val StrippedLimit = " LIMIT 100"

  /** LLM-output shapes the sanitizer must undo: a fenced block with prose
    * around it, a trailing semicolon, a prose preamble, and a missing
    * trailing `LIMIT 100` that `injectLimit` puts back. The last applies
    * only to texts whose one limit token is that trailing clause. */
  private val shapes: IndexedSeq[(String, String => Boolean, String => String)] = IndexedSeq(
    ("fence", _ => true, q => s"Here is the query you asked for:\n```sql\n$q\n```\nIt returns at most 100 rows."),
    ("semicolon", _ => true, q => s"$q;"),
    ("preamble", _ => true, q => s"Sure! The answer to your question is computed by:\n$q"),
    ("no_limit", q => q.endsWith(StrippedLimit) && LimitToken.findAllIn(q).size == 1,
      q => q.stripSuffix(StrippedLimit)))

  /** Every AskEvery-th corpus text, once each. CTE texts take the trusted `runSql`
    * route: the sanitizer's leading-SELECT slice cuts a `WITH` prefix
    * away by design. Every other text is wrapped in a seeded model-output
    * shape and goes through the LLM front-end. */
  def askRequests(seed: Long): IndexedSeq[Op] = {
    val rnd = new Random(seed)
    Corpus.queries.zipWithIndex.collect { case (q, i) if i % AskEvery == 0 => q }.map { q =>
      val text = q.sparkSql
      if (text.trim.toLowerCase.startsWith("with")) AskOp(q.id, "runSql", "", "", text)
      else {
        val fits = shapes.filter(_._2(text))
        val (shape, _, wrap) = fits(rnd.nextInt(fits.size))
        AskOp(q.id, "ask", s"[$shape] question for ${q.id}", wrap(text), text)
      }
    }.toIndexedSeq
  }
}
