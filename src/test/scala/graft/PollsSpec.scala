package graft

import graft.plugs.Polls
import graft.serving.PollsQueries
import org.apache.spark.sql.functions._

/** Polls state machine (reference intent: plugs/polls/functions.sql:97-129
  * + docs/protocols/polls.md): first-create-wins, vote validity window,
  * distinct voters, guarded soft-delete, version gate.
  */
class PollsSpec extends SparkSpec {
  import Fixtures._

  // alice creates a poll; bob tries to steal the permlink (different author
  // key — allowed); alice's duplicate create is dropped; votes before and
  // after expiry; carol votes twice (counts once); dave deletes his poll
  // pre-expiry (honored), eve deletes post-expiry (ignored).
  private def fixture = opLog(spark, Seq(
    op(1, 100, 0, "2024-01-01 00:00:00", "polls",
      pollCreate("best-color", "Best color?", Seq("red", "green", "blue"),
        "2024-01-02 00:00:00", "colors"), postingAuth = "alice"),
    op(2, 100, 1, "2024-01-01 00:00:03", "polls",
      pollCreate("best-color", "Hijack!", Seq("x"), "2024-01-09 00:00:00", "colors"),
      postingAuth = "alice"), // duplicate create, same (author, permlink) -> dropped
    op(3, 100, 2, "2024-01-01 00:00:06", "polls",
      pollCreate("best-color", "Bob's own", Seq("a", "b"), "2024-01-05 00:00:00", "colors"),
      postingAuth = "bob"), // different author -> its own poll
    op(4, 101, 0, "2024-01-01 01:00:00", "polls",
      pollVote("alice", "best-color", 2), postingAuth = "carol"),
    op(5, 101, 1, "2024-01-01 02:00:00", "polls",
      pollVote("alice", "best-color", 3), postingAuth = "carol"), // same voter again
    op(6, 101, 2, "2024-01-01 03:00:00", "polls",
      pollVote("alice", "best-color", 1), postingAuth = "dave"),
    op(7, 900, 0, "2024-01-03 00:00:00", "polls",
      pollVote("alice", "best-color", 1), postingAuth = "eve"), // after expiry
    op(8, 901, 0, "2024-01-03 00:00:10", "polls",
      pollOpV2("v2-poll"), postingAuth = "alice"), // op_version 2 -> ignored
    op(9, 902, 0, "2024-01-04 00:00:00", "polls",
      pollDelete("best-color"), postingAuth = "bob"), // bob deletes pre-expiry? expires 01-05 -> honored
    op(10, 903, 0, "2024-01-03 00:00:00", "polls",
      pollDelete("best-color"), postingAuth = "alice"))) // alice deletes post-expiry (01-02) -> ignored

  private lazy val t = Polls.transform(fixture)

  test("first create wins per (author, permlink); v2 ops gated out") {
    val content = t("content").collect()
    assert(content.length === 2)
    val alice = content.find(_.getAs[String]("author") == "alice").get
    assert(alice.getAs[String]("question") === "Best color?")
    assert(alice.getAs[Seq[String]]("answers") === Seq("red", "green", "blue"))
  }

  test("guarded soft delete: honored before expiry, ignored after") {
    val content = t("content").collect()
    assert(content.find(_.getAs[String]("author") == "bob").get.getAs[Boolean]("deleted"))
    assert(!content.find(_.getAs[String]("author") == "alice").get.getAs[Boolean]("deleted"))
  }

  test("summary: distinct voters per parsed answer, votes within validity window") {
    val sum = PollsQueries.pollSummary(t("content"), t("votes"))
      .filter(col("author") === "alice").collect()
    val byAnswer = sum.map(r => r.getAs[String]("parsed_answer") -> r.getAs[Long]("votes")).toMap
    // carol voted twice (answers 2 then 3) -> she counts once per distinct
    // answer she voted on, both pre-expiry; dave once on answer 1; eve's
    // post-expiry vote excluded.
    assert(byAnswer === Map("red" -> 1L, "green" -> 1L, "blue" -> 1L))
  }

  test("expiry-less poll: vote within 7 days of creation counts (SURVEY §2.12 J2 divergence)") {
    // the reference's residual is `<= COALESCE(expires, created - INTERVAL
    // '7 DAYS')` (plugs/polls/polls.py:69-70) — the MINUS would invalidate
    // this vote (and every vote on an expiry-less poll); the engine's
    // intent-correct PLUS gives a 7-day default window
    val noExpiry =
      """[[1, "polls-app/0.01"], "create", {"permlink": "open-poll",
        | "question": "Open?", "answers": ["yes", "no"], "tag": "misc"}]"""
        .stripMargin.replace("\n", "")
    val log = opLog(spark, Seq(
      op(1, 100, 0, "2024-01-01 00:00:00", "polls", noExpiry, postingAuth = "alice"),
      op(2, 101, 0, "2024-01-04 00:00:00", "polls", // day 3 of 7 -> counts
        pollVote("alice", "open-poll", 1), postingAuth = "bob"),
      op(3, 102, 0, "2024-01-09 00:00:00", "polls", // day 8 -> outside default window
        pollVote("alice", "open-poll", 2), postingAuth = "carol")))
    val tt = Polls.transform(log)
    assert(tt("content").collect().head.getAs[java.sql.Timestamp]("expires") == null)
    val byAnswer = PollsQueries.pollSummary(tt("content"), tt("votes")).collect()
      .map(r => r.getAs[String]("parsed_answer") -> r.getAs[Long]("votes")).toMap
    assert(byAnswer === Map("yes" -> 1L))
  }

  test("vote list excludes nothing (J3 full list)") {
    val votes = PollsQueries.pollVotes(t("content"), t("votes"), "alice", "best-color").collect()
    assert(votes.length === 4)
  }

  test("active polls with injected clock") {
    val active = PollsQueries.activePolls(t("content"), ts("2024-01-01 12:00:00")).collect()
    assert(active.map(_.getAs[String]("author")).toSet === Set("alice")) // bob's deleted
    assert(PollsQueries.activePolls(t("content"), ts("2024-01-02 12:00:00")).count() === 0)
  }

  test("early non-qualifying delete does not mask a later valid delete") {
    // a delete arriving BEFORE the create is a no-op in the reference's
    // ordered machine; the later in-window delete must still soft-delete.
    // (Regression: collapsing to the chain-earliest delete before applying
    // the liveness guard dropped the valid one.)
    val log = opLog(spark, Seq(
      op(1, 99, 0, "2023-12-31 00:00:00", "polls",
        pollDelete("best-color"), postingAuth = "alice"), // pre-create -> no-op
      op(2, 100, 0, "2024-01-01 00:00:00", "polls",
        pollCreate("best-color", "Best color?", Seq("red", "green"),
          "2024-01-02 00:00:00", "colors"), postingAuth = "alice"),
      op(3, 101, 0, "2024-01-01 06:00:00", "polls",
        pollDelete("best-color"), postingAuth = "alice"))) // in-window -> deletes
    val content = Polls.transform(log)("content").collect()
    assert(content.length === 1 && content.head.getAs[Boolean]("deleted"))
  }

  test("chain-order guard: same-second delete BEFORE the create is a no-op") {
    // equal timestamps, delete earlier in chain order — the reference's
    // sequential machine finds no poll; a timestamp-only guard
    // (del_created >= created) would wrongly soft-delete.
    val log = opLog(spark, Seq(
      op(1, 100, 0, "2024-01-01 00:00:00", "polls",
        pollDelete("p"), postingAuth = "alice"),
      op(2, 100, 1, "2024-01-01 00:00:00", "polls",
        pollCreate("p", "Q?", Seq("a", "b"), "2024-01-02 00:00:00", "t"),
        postingAuth = "alice"),
      op(3, 100, 2, "2024-01-01 00:00:00", "polls",
        pollDelete("p"), postingAuth = "alice"))) // same second, chain-AFTER -> deletes
    val content = Polls.transform(log)("content").collect()
    assert(content.length === 1 && content.head.getAs[Boolean]("deleted"))
    // and without the trailing delete, the poll survives
    val content2 = Polls.transform(opLog(spark, Seq(
      op(1, 100, 0, "2024-01-01 00:00:00", "polls",
        pollDelete("p"), postingAuth = "alice"),
      op(2, 100, 1, "2024-01-01 00:00:00", "polls",
        pollCreate("p", "Q?", Seq("a", "b"), "2024-01-02 00:00:00", "t"),
        postingAuth = "alice"))))("content").collect()
    assert(content2.length === 1 && !content2.head.getAs[Boolean]("deleted"))
  }

  test("state machine is arrival-order invariant (chain order is the key)") {
    val shuffled = opLog(spark, scala.util.Random.shuffle(Seq(
      op(1, 100, 0, "2024-01-01 00:00:00", "polls",
        pollCreate("best-color", "Best color?", Seq("red", "green", "blue"),
          "2024-01-02 00:00:00", "colors"), postingAuth = "alice"),
      op(2, 100, 1, "2024-01-01 00:00:03", "polls",
        pollCreate("best-color", "Hijack!", Seq("x"), "2024-01-09 00:00:00", "colors"),
        postingAuth = "alice"))))
    val content = Polls.transform(shuffled)("content").collect()
    assert(content.length === 1 && content.head.getAs[String]("question") === "Best color?")
  }

  test("fold: a key with deletes but no create, before or now, yields no row") {
    val log = opLog(spark, Seq(
      op(1, 100, 0, "2024-01-01 00:00:00", "polls",
        pollCreate("p", "Q?", Seq("a", "b"), "2024-01-02 00:00:00", "t"), postingAuth = "alice"),
      op(2, 101, 0, "2024-01-01 01:00:00", "polls", pollDelete("ghost"), postingAuth = "alice")))
    val once = Polls.transform(log)
    assert(once("content").collect().map(_.getAs[String]("permlink")).toSeq === Seq("p"))
    // and on top of a prior version that never held the key either
    val later = Polls.transform(opLog(spark, Seq(
      op(3, 200, 0, "2024-01-01 02:00:00", "polls", pollDelete("ghost"), postingAuth = "bob"))))
    val merged = graft.streaming.PollsStreaming.mergeContent(Some(once("content")), later)
    assert(merged.collect().map(_.getAs[String]("permlink")).toSeq === Seq("p"))
  }

  test("fold: a prior row beats a same-key create in a replayed batch") {
    // the replayed create is EARLIER in chain order than the committed
    // row: only the prior-first rank keeps the committed row
    val prior = Polls.transform(opLog(spark, Seq(
      op(5, 200, 0, "2024-01-01 00:00:00", "polls",
        pollCreate("p", "Committed?", Seq("a"), "2024-01-09 00:00:00", "t"),
        postingAuth = "alice"))))("content")
    val replay = Polls.transform(opLog(spark, Seq(
      op(1, 100, 0, "2023-12-31 00:00:00", "polls",
        pollCreate("p", "Replayed?", Seq("x"), "2024-01-09 00:00:00", "t"),
        postingAuth = "alice"))))
    val merged = graft.streaming.PollsStreaming.mergeContent(Some(prior), replay).collect()
    assert(merged.length === 1)
    assert(merged.head.getAs[String]("question") === "Committed?")
    assert(merged.head.getAs[Long]("poll_opid") === 5L)
  }

  test("fold: a delete at the expiry instant counts, one after it does not") {
    def deletedWithDeleteAt(at: String): Boolean = Polls.transform(opLog(spark, Seq(
      op(1, 100, 0, "2024-01-01 00:00:00", "polls",
        pollCreate("p", "Q?", Seq("a", "b"), "2024-01-02 00:00:00", "t"), postingAuth = "alice"),
      op(2, 101, 0, at, "polls", pollDelete("p"), postingAuth = "alice"))))("content")
      .collect().head.getAs[Boolean]("deleted")
    assert(deletedWithDeleteAt("2024-01-02 00:00:00"))
    assert(!deletedWithDeleteAt("2024-01-02 00:00:01"))
  }
}
