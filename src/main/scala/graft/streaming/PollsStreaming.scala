package graft.streaming

import graft.plugs.Polls
import org.apache.spark.sql.DataFrame

/** Cross-batch state maintenance for the polls plug: `content` is a keyed
  * state table (first-create-wins insert-if-absent + guarded soft-delete,
  * reference functions.sql:105-128), the rest are appends.
  */
object PollsStreaming {

  def runner(outDir: String): PlugRunner =
    new PlugRunner(Polls, outDir, Map("content" -> mergeContent _))

  /** The prior version folded with this batch's creates and deletes
    * ([[Polls.foldContent]]: prior rows win, and a delete may target a
    * poll created in an earlier batch). Idempotent: re-merging the same
    * batch onto the same prior is a no-op.
    */
  def mergeContent(prior: Option[DataFrame], batch: Map[String, DataFrame]): DataFrame =
    Polls.foldContent(prior, Polls.creates(batch("ops")), batch("deletes"))
}
