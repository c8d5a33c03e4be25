package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.schema.MentionRow

/** Mention detection — the per-turn "triple emitter" pass (reference operators
  * B2/B9/B10/B11: ast/src/lang/parse/collect.rs:11-42, lang/mod.rs:604-729,
  * parse/collect.rs:132-159), with rule + dictionary extractors replacing
  * tree-sitter queries.
  *
  * One extractor, [[extract]]: a `mapPartitions` pass with a broadcast
  * dictionary trie compiled once per partition (the reference memoizes
  * compiled queries in a DashMap, ast/src/lang/mod.rs:313-322). The five
  * mention families are fused into ONE scan of the corpus (the reference
  * runs 10 sequential per-file stages; SURVEY.md §3.1 notes they fuse
  * because all scan the same turns). ExtractionSpec compares it against a
  * pure-Catalyst regex union kept there as the reference.
  *
  * Emitted mention_type values: Entity (dictionary alias occurrence),
  * Function (definition in tool turns / call in user turns), Endpoint (tool
  * turns, verb+path), Request (assistant turns, verb+path), Tool (the `tool`
  * column — Library-node analog, reference B3 lang/mod.rs:356-363).
  */
object Mentions {

  /** A4 oversize skip (builder/utils.rs:13 MAX_FILE_SIZE): turns longer than
    * this are never extracted; the build keeps them in the spine with
    * skipped=true (the reference skips parsing such files entirely).
    */
  val MaxTurnChars = 500000

  /** Driver-side count of extraction-plan constructions. Extraction only
    * enters a plan through [[extract]], so a resume path that must not
    * re-extract can be asserted by this counter staying flat (ResumeSpec).
    */
  val extractionInvocations = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test-only row probe: when set, [[extract]] counts every input turn it
    * actually scans into the accumulator — the hard evidence that an
    * incremental path feeds the extractor ONLY the changed conversations'
    * text (SnapshotIncrementalSpec, ResumeSpec). None in production: the
    * captured Option is resolved once per plan, not per row.
    */
  @volatile var rowProbe: Option[org.apache.spark.util.LongAccumulator] = None

  /** Mentions of the six-column transcript table, as [[MentionRow]] columns.
    * Oversize turns (A4, [[MaxTurnChars]]) are dropped before the scan.
    */
  def extract(transcripts: DataFrame): DataFrame = {
    extractionInvocations.incrementAndGet()
    val spark = transcripts.sparkSession
    import spark.implicits._
    val dictBc = spark.sparkContext.broadcast(
      Dictionary.aliasTable.map(_._2) :+ Dictionary.hotAlias
    )
    val t = transcripts
      .where(length(col("text")) <= MaxTurnChars)
      .select("conv_id", "turn_idx", "role", "text", "tool")
      .as[(String, Int, String, String, Option[String])]

    val probe = rowProbe // resolve the hook once, on the driver
    t.mapPartitions { rows =>
      // compile matchers once per partition (reference B1 query cache analog)
      val trie = new Trie(dictBc.value)
      val handlerRe = java.util.regex.Pattern.compile(Dictionary.handlerPattern)
      val verbPathRe = java.util.regex.Pattern.compile(Dictionary.verbPathPattern)
      rows.flatMap { case (conv, idx, role, text, tool) =>
        probe.foreach(_.add(1L))
        val out = scala.collection.mutable.ListBuffer[MentionRow]()
        trie.scan(text).foreach { a =>
          out += MentionRow(conv, idx, "Entity", a, None, None)
        }
        val hm = handlerRe.matcher(text)
        if (hm.find()) {
          val mt = if (role == "tool") "FunctionDef" else "FunctionCall"
          out += MentionRow(conv, idx, mt, hm.group(1), None, None)
        }
        if (role == "tool" || role == "assistant") {
          val vm = verbPathRe.matcher(text)
          if (vm.find()) {
            val mt = if (role == "tool") "Endpoint" else "Request"
            out += MentionRow(conv, idx, mt, vm.group(2), Some(vm.group(1)), Some(vm.group(2)))
          }
        }
        tool.foreach(tl => out += MentionRow(conv, idx, "Tool", tl, None, None))
        out
      }
    }.toDF()
  }

  /** C6 skip-list suppression (queries/mod.rs:367-369 + the skips dir): drop
    * mentions named in the broadcast stop dictionary before resolution.
    * A literal IN filter — pushed into the scan, zero-shuffle.
    */
  def applySkipList(mentions: DataFrame, skip: Seq[String]): DataFrame =
    mentions.where(!col("name").isin(skip: _*))

  /** B13 comments->docs attach (lang/mod.rs:85-197): a handler definition's
    * docs are the text of the nearest preceding user turn within a 2-turn
    * gap — the reference walks comment blocks upward with the same bound.
    * Pure lag window over the conversation ordering.
    */
  def docsAttach(transcripts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    // Exchange-shape note (measured, round 5): the obvious "100 TB" rewrite
    // — a text-free meta window choosing the docs turn + joining text back
    // from user turns only — was built and A/B-measured at scale 16/parts 8:
    // total build shuffle write went 461 MB (this form) -> 515 MB (split
    // form, even with all three inputs explicitly co-partitioned on
    // conv_id). lag(text) rides ONE exchange whose text compresses ~10x
    // under lz4, while the split form's three narrow exchanges don't — so
    // the single window wins here and keeps winning until per-turn text is
    // large enough that compressed text bytes dominate narrow-row overhead
    // (multi-KB turns). Revisit the split form only with evidence from a
    // corpus of that shape.
    transcripts
      .withColumn("name", regexp_extract(col("text"), Dictionary.handlerPattern, 1))
      .withColumn("prev_role1", lag("role", 1).over(w))
      .withColumn("prev_text1", lag("text", 1).over(w))
      .withColumn("prev_role2", lag("role", 2).over(w))
      .withColumn("prev_text2", lag("text", 2).over(w))
      .where(col("role") === "tool" && length(col("name")) > 0)
      .withColumn(
        "docs",
        when(col("prev_role1") === "user", col("prev_text1"))
          .when(col("prev_role2") === "user", col("prev_text2"))
      )
      .select("conv_id", "turn_idx", "name", "docs")
  }

  /** Longest-match-at-position multi-string scanner (Aho-Corasick-lite trie).
    * Serializable; broadcast to executors and compiled once per partition.
    */
  final class Trie(words: Seq[String]) extends Serializable {
    private val root = new java.util.HashMap[Char, AnyRef]()
    private val TERM = '\u0000'
    words.foreach { w =>
      var node = root
      w.foreach { ch =>
        var next = node.get(ch).asInstanceOf[java.util.HashMap[Char, AnyRef]]
        if (next == null) {
          next = new java.util.HashMap[Char, AnyRef]()
          node.put(ch, next)
        }
        node = next
      }
      node.put(TERM, w)
    }

    /** All non-overlapping longest matches, left to right (same semantics as
      * the longest-first regex alternation in [[Dictionary.aliasPattern]]).
      */
    def scan(text: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < text.length) {
        var node = root
        var j = i
        var last: String = null
        var lastEnd = i
        var continue = true
        while (continue && j < text.length) {
          val next = node.get(text.charAt(j)).asInstanceOf[java.util.HashMap[Char, AnyRef]]
          if (next == null) continue = false
          else {
            node = next
            j += 1
            val w = node.get(TERM)
            if (w != null) { last = w.asInstanceOf[String]; lastEnd = j }
          }
        }
        if (last != null) { out += last; i = lastEnd }
        else i += 1
      }
      out.toList
    }
  }
}
