package graft.plugs

import graft.core.OpLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Polls plug — implements the *intended* semantics (SURVEY §2.12: the
  * reference ships this plug inconsistent and disabled; we follow the
  * documented state machine in plugs/polls/functions.sql:97-129 and
  * docs/protocols/polls.md on the `polls.*` schema).
  *
  * Ops arrive in the CJOS-01 positional envelope
  * `[[version, app], op_name, payload]` (docs/op-standard.md:15-35).
  * State machine, applied in chain order `(block_num, trx_in_block, id)`:
  *  - `create`: first create per (author, permlink) wins
  *    (functions.sql:105-112 `IF NOT FOUND THEN INSERT`) — expressed
  *    order-insensitively as the minimum over the chain-order key.
  *  - `vote`: append (functions.sql:114-119).
  *  - `delete`: soft-delete, honored only while the poll is live
  *    (functions.sql:120-128: guard `temprow.expires >= _created`).
  */
object Polls extends Plug {
  val name = "polls"
  val startBlock = 0
  val opTypeIds: Set[Int] = Set(OpLog.CustomJsonOpType)
  val opId = "polls"

  val createSchema: StructType = StructType(Seq(
    StructField("permlink", StringType),
    StructField("question", StringType),
    StructField("answers", ArrayType(StringType)),
    StructField("expires", StringType),
    StructField("tag", StringType)))

  val voteSchema: StructType = StructType(Seq(
    StructField("author", StringType),
    StructField("permlink", StringType),
    StructField("answer", ShortType)))

  val deleteSchema: StructType = StructType(Seq(
    StructField("permlink", StringType)))

  /** Cheap superset prefilter (see Podping.filter): exact op-id equality
    * still applies post-parse.
    */
  def filter(ops: DataFrame): DataFrame =
    ops.filter(col("op_type_id") === OpLog.CustomJsonOpType &&
      col("body").contains("\"polls\""))

  /** The acting account: first posting auth, else first active auth
    * (custom_json ops carry exactly one signer in practice).
    */
  private val signer = coalesce(
    try_element_at(col("req_posting_auths"), lit(1)),
    try_element_at(col("req_auths"), lit(1)))

  def transform(raw: DataFrame): Map[String, DataFrame] = {
    val env = OpLog.parseEnvelope(filter(raw)).filter(col("op_id") === opId)

    // CJOS decomposition (one materialized parse — see
    // OpLog.withCjosColumns); gate on op_version == 1 (functions.sql:97).
    // polls.ops (tables.sql:3-13); every other table derives from it.
    val ops = OpLog.withCjosHeader(OpLog.withCjosColumns(env))
      .filter(col("_op_version") === 1)
      .select(
        col("id"), col("block_num"), col("trx_in_block"),
        col("timestamp").as("created"),
        lower(hex(col("trx_hash"))).as("transaction_id"),
        col("req_auths"), col("req_posting_auths"),
        col("_op_header").as("op_header"), col("op_type"),
        col("_payload").as("op_payload"))

    // -- vote: append (vote targets the poll author in the payload) --------
    val votes = payload(ops, "vote", voteSchema)
      .select(
        col("id").as("pp_poll_opid"), col("block_num"), col("trx_in_block"),
        col("created"),
        col("_p.author").as("author"),
        col("_p.permlink").as("permlink"),
        signer.as("account"),
        col("_p.answer").as("answer"))
      .filter(col("author").isNotNull && col("permlink").isNotNull)

    // -- delete: every delete op; [[foldContent]] decides which ones count
    val deletes = payload(ops, "delete", deleteSchema)
      .select(
        signer.as("author"),
        col("_p.permlink").as("permlink"),
        col("created").as("del_created"),
        col("block_num").as("del_block"),
        col("trx_in_block").as("del_trx"),
        col("id").as("del_opid"))
      .filter(col("permlink").isNotNull)

    Map("ops" -> ops, "content" -> foldContent(None, creates(ops), deletes),
        "votes" -> votes, "deletes" -> deletes)
  }

  private def payload(ops: DataFrame, opType: String, schema: StructType): DataFrame =
    ops.filter(col("op_type") === opType)
      .withColumn("_p", from_json(col("op_payload"), schema))

  /** Create ops of a polls `ops` table, one row per op. */
  def creates(ops: DataFrame): DataFrame =
    payload(ops, "create", createSchema)
      .select(
        col("id").as("poll_opid"), col("block_num"), col("trx_in_block"),
        col("created"),
        signer.as("author"),
        col("_p.permlink").as("permlink"),
        col("_p.question").as("question"),
        col("_p.answers").as("answers"),
        to_timestamp(col("_p.expires")).as("expires"),
        col("_p.tag").as("tag"))
      .filter(col("permlink").isNotNull)

  /** `content` columns after the (author, permlink) key. */
  private val contentCols = Seq("poll_opid", "block_num", "trx_in_block",
    "created", "question", "answers", "expires", "tag", "deleted")

  /** Fold creates and deletes into `content`, on top of a prior version
    * if there is one, in one keyed aggregate (one shuffle):
    *  - create: the first candidate per (author, permlink) wins. Prior
    *    rows rank ahead of every create, so a replayed create never
    *    displaces state; among creates, chain order decides.
    *  - delete: soft-deletes the winner iff it comes AFTER the create in
    *    chain order (the reference applies ops sequentially, so a delete
    *    before the create finds no poll, even at equal timestamps) and
    *    lands while the poll is live (functions.sql:120-128 guard
    *    `temprow.expires >= _created`). Every delete is tested, so an
    *    early non-qualifying one cannot mask a later valid one.
    *  - a key with deletes and no create yields no row; deletes without
    *    a signer match nothing.
    * Idempotent: folding the same batch onto the same prior is a no-op.
    */
  def foldContent(prior: Option[DataFrame], creates: DataFrame, deletes: DataFrame): DataFrame = {
    def candidates(df: DataFrame, rank: Int) = df.select(col("author"), col("permlink"),
      struct(lit(rank).as("rank"), col("block_num"), col("trx_in_block"), col("poll_opid"),
        struct(contentCols.map(col): _*).as("row")).as("c"))
    val cs = (prior.map(candidates(_, 0)).toSeq :+
      candidates(creates.withColumn("deleted", lit(false)), 1)).reduce(_.unionByName(_))
    val ds = deletes.filter(col("author").isNotNull).select(col("author"), col("permlink"),
      struct(col("del_block"), col("del_trx"), col("del_opid"), col("del_created")).as("d"))
    val c = (f: String) => col(s"c.row.$f")
    cs.withColumn("d", lit(null).cast(ds.schema("d").dataType))
      .unionByName(ds.withColumn("c", lit(null).cast(cs.schema("c").dataType)))
      .groupBy("author", "permlink")
      .agg(min("c").as("c"), collect_list("d").as("ds"))
      .filter(col("c").isNotNull)
      .select(Seq(col("author"), col("permlink")) ++ contentCols.init.map(f => c(f).as(f)) :+
        coalesce(c("deleted") || exists(col("ds"), d => c("expires").isNotNull &&
          struct(d("del_block"), d("del_trx"), d("del_opid")) >
            struct(c("block_num"), c("trx_in_block"), c("poll_opid")) &&
          c("expires") >= d("del_created")), lit(false)).as("deleted"): _*)
  }
}
