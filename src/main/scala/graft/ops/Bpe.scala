package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Real merge-table byte-pair encoding — the tokenizer the packing /
  * token-budget family counts with (beyond the `BpeIshPattern` regex
  * proxy in [[TextAnalysis]]).
  *
  * [[Merges]] is a COMMITTED fixture: 40 merges trained offline by
  * classic BPE (count adjacent symbol pairs weighted by word frequency,
  * merge the most frequent, repeat; ties broken lexicographically) over
  * the gate corpus's word distribution — a static artifact exactly like
  * a shipped `merges.txt`, applied at query time, never retrained.
  *
  * Encoding algorithm (the published greedy merge loop): start from the
  * word's characters; repeatedly find the LOWEST-RANK merge whose pair
  * occurs adjacently and merge its LEFTMOST occurrence; stop when no
  * merge applies. Merging one-occurrence-at-a-time leftmost is
  * equivalent to the merge-all-occurrences-per-step formulation for a
  * fixed pair (merging the leftmost occurrence neither creates nor
  * destroys other occurrences of the same pair), and the one-step form
  * is what the DuckDB oracle replays symbolically: the symbol sequence
  * as a space-delimited string, `instr`/`substr` surgery on the
  * min-rank pattern, recursed to the fixpoint — validated
  * symbol-for-symbol against this implementation.
  *
  * Scale shape: encoding is a per-row JVM kernel (a codegen'd Catalyst
  * expression — [[graft.functions.VectorExpressions.bpeTokenCount]]),
  * with a per-executor memo keyed by word: the corpus's Zipfian word
  * distribution means almost every lookup is a cache hit, so the merge
  * loop runs ~once per DISTINCT word per executor, not once per token.
  */
object Bpe {

  /** Rank-ordered merge table (rank = index). */
  val Merges: IndexedSeq[(String, String)] = Vector(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"))

  /** Serializable encoder over a merge table, with a per-executor word
    * memo (transient — rebuilt empty after deserialization). */
  final class Coder(merges: IndexedSeq[(String, String)])
      extends Serializable {
    private val rank: Map[(String, String), Int] =
      merges.zipWithIndex.toMap

    @transient private lazy val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

    /** Greedy merge-table encoding of one word (empty → no tokens). */
    def encodeWord(word: String): Array[String] =
      if (word.isEmpty) Array.empty
      else memo.computeIfAbsent(word, w => {
        val syms = scala.collection.mutable.ArrayBuffer(
          w.map(_.toString): _*)
        var done = false
        while (!done) {
          var bestR = Int.MaxValue
          var bestI = -1
          var i = 0
          while (i < syms.length - 1) {
            rank.get((syms(i), syms(i + 1))) match {
              case Some(r) if r < bestR => bestR = r; bestI = i
              case _ =>
            }
            i += 1
          }
          if (bestI < 0) done = true
          else {
            syms(bestI) = syms(bestI) + syms(bestI + 1)
            syms.remove(bestI + 1)
          }
        }
        syms.toArray
      })

    /** Total token count over a word array (null words count 0). */
    def countAll(words: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      var total = 0L
      var i = 0
      val n = words.numElements()
      while (i < n) {
        if (!words.isNullAt(i))
          total += encodeWord(words.getUTF8String(i).toString).length
        i += 1
      }
      total
    }

    /** The full tokenization as one space-joined string (the digest the
      * oracle rebuilds via string_agg over per-word fixpoints). */
    def encodeAll(words: org.apache.spark.sql.catalyst.util.ArrayData): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      val n = words.numElements()
      while (i < n) {
        if (!words.isNullAt(i)) {
          val toks = encodeWord(words.getUTF8String(i).toString)
          var j = 0
          while (j < toks.length) {
            if (sb.length > 0) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
        }
        i += 1
      }
      sb.toString
    }
  }

  /** The shared coder over [[Merges]]. */
  val coder: Coder = new Coder(Merges)

  /** The merge table as DuckDB VALUES rows — the oracle SQL is generated
    * from the SAME fixture, so the two engines cannot drift. */
  def mergesSqlValues: String =
    Merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '$a', '$b')" }
      .mkString(", ")

  /** Adjacent (symbol, next-symbol) struct pairs of a symbol array —
    * the per-round pair-count input. Map-only; empty under 2 symbols. */
  private def adjacentPairs(seq: Column): Column =
    when(size(seq) >= 2,
      transform(sequence(lit(1), size(seq) - 1), i =>
        struct(element_at(seq, i).as("a"), element_at(seq, i + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** ONE merge (a, b) applied to a symbol array, greedy left-to-right
    * non-overlapping — classic BPE round semantics — as a sequential
    * `aggregate` fold (codegen'd, map-only, no shuffle): carry (emitted
    * symbols, pending previous symbol); when pending == a and the
    * current symbol == b, emit the merged token and clear the pending
    * slot (so an `a a a` run merges at even offsets only — the
    * left-to-right parity rule the oracle's one-occurrence-at-a-time
    * replacement reproduces; a merge never creates a NEW (a, b)
    * occurrence because a+b equals neither a nor b, so single-pass and
    * to-fixpoint application coincide). */
  private[ops] def applyMerge(seq: Column, a: String, b: String): Column = {
    def out(st: Column) = st.getField("out")
    def prev(st: Column) = st.getField("prev")
    aggregate(
      seq,
      struct(array().cast("array<string>").as("out"),
        lit(null).cast("string").as("prev")),
      (st, x) => {
        val merged = prev(st).isNotNull && prev(st) === lit(a) && (x === lit(b))
        struct(
          when(merged, concat(out(st), array(lit(a + b))))
            .when(prev(st).isNull, out(st))
            .otherwise(concat(out(st), array(prev(st)))).as("out"),
          when(merged, lit(null).cast("string")).otherwise(x).as("prev"))
      },
      st => when(prev(st).isNull, out(st))
        .otherwise(concat(out(st), array(prev(st)))))
  }

  /** Corpus-scale BPE TRAINING — the iterative pair-count/merge loop
    * that produced [[Merges]] (which this trainer byte-reproduces on
    * the gate corpus — the `bpe_train` oracle row at sf0.01 emits the
    * fixture exactly), run as Spark jobs so the vocabulary never has to
    * fit on the driver:
    *
    *   1. ONE corpus pass builds the (word, count) table — the
    *      Zipf-collapsed training frame every published BPE trainer
    *      iterates on; all later rounds touch only this vocab table;
    *   2. per round: adjacent symbol pairs (map-only
    *      [[adjacentPairs]]) → one groupBy(a, b) weighted by word
    *      count → the single argmax row collected (count desc, then
    *      (a, b) lexicographic — the fixture's tie rule) → the merge
    *      applied map-only ([[applyMerge]]) and the symbol table
    *      re-materialized via localCheckpoint (truncates lineage: each
    *      round's plan stays O(1) instead of nesting 40 fold
    *      expressions — the CC-loop driver-iteration precedent).
    *
    * Per-round cost at 100 TB: one shuffle of (a, b, count) partial
    * aggregates over the vocab table plus a 1-row collect — the corpus
    * is read exactly once, in step 1. Stops early when no pair is left
    * (every word fully merged). Returns the rank-ordered merge table;
    * feed it to [[Coder]] / the coder-parametric
    * [[graft.functions.BpeExpressions]] overloads to tokenize with the
    * trained vocabulary ([[graft.ops.TextAnalysis.bpeRealTokenCountWith]]). */
  def train(docs: DataFrame, nMerges: Int = Merges.length): IndexedSeq[(String, String)] = {
    require(nMerges >= 1, s"bpe train: nMerges must be >= 1, got $nMerges")
    val words = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var syms = words
      .select(col("w"), col("cnt"), split(col("w"), "").as("seq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < nMerges) {
      val top = syms
        .select(col("cnt"), explode(adjacentPairs(col("seq"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("cnt"))
        .groupBy("a", "b").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top.head.getString(0), top.head.getString(1))
        merges += ((a, b))
        if (merges.length < nMerges) {
          syms = syms
            .select(col("w"), col("cnt"), applyMerge(col("seq"), a, b).as("seq"))
          // Checkpoint every 4th round, not every round: the checkpoint
          // exists to keep plan depth O(1) across rounds (40 stacked
          // applyMerge folds would blow up janino), but each one is a
          // full materialization JOB, and the round-17 bench measured
          // bpe_train's cost as ~pure job-scheduling overhead (flat
          // sf0.1 -> 10x). Four stacked folds keep the plan shallow
          // while halving the per-round job count (80 -> ~50 jobs at
          // nMerges=40; QBench A/B 6.45 -> see SCALING round 17). The
          // pair-count aggregate between checkpoints re-evaluates <= 3
          // pending folds over the vocab-sized frame — CPU noise.
          if (merges.length % 4 == 0) syms = syms.localCheckpoint()
        }
      }
    }
    merges.toIndexedSeq
  }

  // ------------------------------------------------------------------
  // Byte-level BPE with GPT-2-style pre-tokenization + BATCHED training
  // rounds — the production tokenizer shape: [[train]] is the classic
  // one-merge-per-round reference (and the committed fixture's
  // provenance); a 32k-merge production vocabulary cannot afford 32k
  // sequential Spark rounds, so [[trainBytesBatched]] merges up to M
  // pairwise-SYMBOL-DISJOINT pairs per round (disjoint pairs neither
  // create nor destroy each other's adjacencies, so within a round the
  // batch applies exactly like the sequential order it was ranked in).
  // ------------------------------------------------------------------

  /** GPT-2's space marker: a leading space is part of the following
    * pre-token, carried as the printable 'Ġ' (U+0120) so symbol strings
    * stay space-delimitable on both engines — literally the byte-encoder
    * convention shipped in the public GPT-2 vocab files. */
  val SpaceMark = "Ġ"

  /** GPT-2-style pre-tokens of a document: [[TextAnalysis.BpeIshPattern]]
    * runs (letters / digits / other-symbol runs, each optionally
    * space-prefixed) over the RAW text, with the space carried as
    * [[SpaceMark]]. On the ASCII gate corpus characters ARE bytes, so
    * char-level symbols over these pre-tokens are byte-level symbols;
    * a non-ASCII deployment adds the GPT-2 byte-to-unicode table in the
    * same spot (one more `translate`). Mirrored in DuckDB as
    * `list_transform(regexp_extract_all(text, pattern), t ->
    * replace(t, ' ', 'Ġ'))`. */
  def preTokens(text: Column): Column =
    transform(
      regexp_extract_all(text, lit(TextAnalysis.BpeIshPattern), lit(0)),
      t => translate(t, " ", SpaceMark))

  /** BATCHED byte-level BPE training: exactly `nRounds` rounds, each
    * merging up to `batchM` pairs — the round shape a 32k-merge
    * production vocabulary needs (~hundreds of driver rounds instead of
    * 32k sequential jobs). Per round:
    *
    *   1. one vocab-sized pair-count shuffle ranks candidates by
    *      (count desc, a, b) and collects the top `4·batchM` rows
    *      (driver-bounded — KBs);
    *   2. the greedy-disjoint filter keeps a candidate iff NO
    *      earlier-RANKED candidate (kept or dropped — the rule is a
    *      pure rank-window predicate, so the oracle replays it with one
    *      self-join instead of a sequential scan) shares a symbol with
    *      it, then takes the first `batchM` survivors. Kept pairs are
    *      pairwise symbol-disjoint, so merging one can neither create
    *      nor destroy another's adjacencies — the batch equals its
    *      sequential application, and every merged symbol is new, so
    *      in-round pairs never chain;
    *   3. the kept merges apply as stacked map-only [[applyMerge]]
    *      folds, one localCheckpoint per round (plan depth stays O(M)).
    *
    * The disjointness cap self-limits early rounds to ~|alphabet|/2
    * merges and grows with the vocabulary — measured in SCALING.md's
    * 1k-merge cell. Rounds stop early when no pair remains. Returns the
    * rank-ordered merge table (feed to [[Coder]] /
    * [[graft.functions.BpeExpressions]] over [[preTokens]] symbols). */
  def trainBytesBatched(docs: DataFrame, nRounds: Int = 3,
                        batchM: Int = 4): IndexedSeq[(String, String)] = {
    require(nRounds >= 1 && batchM >= 1,
      s"bpe trainBytesBatched: need nRounds >= 1 and batchM >= 1, " +
        s"got $nRounds/$batchM")
    val words = docs
      .select(explode(preTokens(col("text"))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var syms = words
      .select(col("w"), col("cnt"), split(col("w"), "").as("seq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    var r = 0
    while (!done && r < nRounds) {
      val cands = syms
        .select(col("cnt"), explode(adjacentPairs(col("seq"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("cnt"))
        .groupBy("a", "b").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(4 * batchM).collect()
        .map(row => (row.getString(0), row.getString(1)))
      if (cands.isEmpty) done = true
      else {
        val kept = cands.zipWithIndex.filter { case ((a, b), i) =>
          !cands.take(i).exists { case (a2, b2) =>
            a == a2 || a == b2 || b == a2 || b == b2 }
        }.map(_._1).take(batchM)
        merges ++= kept
        if (r + 1 < nRounds) {
          syms = kept.foldLeft(syms) { case (s, (a, b)) =>
            s.select(col("w"), col("cnt"),
              applyMerge(col("seq"), a, b).as("seq"))
          }.localCheckpoint()
        }
      }
      r += 1
    }
    merges.toIndexedSeq
  }

  /** Build-once/read-many TRAINED tokenizer: [[train]]'s merge table
    * persisted through [[FingerprintStore]] (the `pqStore`/`ivfPqStore`
    * precedent — a pipeline that ships its own tokenizer trains it once
    * per corpus snapshot, then every tokenize/count/pack job consumes the
    * stored table). The store is keyed by the SOURCE corpus fingerprint
    * plus `nMerges`, so a regenerated corpus or a resized vocabulary
    * retrains; a warm call reads `nMerges` parquet rows and runs ZERO
    * training jobs — at 100 TB the ~40-round pair-count bill (one corpus
    * pass + one vocab-sized shuffle per round) is paid once, while the
    * consuming encode jobs are map-only. The collect is `nMerges` rows
    * (a tokenizer vocabulary, bytes) — bounded and driver-safe, the
    * codebook-collect precedent. */
  def mergesStore(spark: org.apache.spark.sql.SparkSession,
                  docs: DataFrame, sourcePath: String,
                  nMerges: Int = Merges.length,
                  storeRoot: Option[String] = None)
      : IndexedSeq[(String, String)] = {
    val stored = FingerprintStore.getOrBuild(spark, sourcePath,
      "bpemerges", s"v1-bpe-n$nMerges", storeRoot) {
      import spark.implicits._
      train(docs, nMerges).zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "ma", "mb")
        .coalesce(1) // nMerges rows: one file, one footer
    }
    stored.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
  }
}
