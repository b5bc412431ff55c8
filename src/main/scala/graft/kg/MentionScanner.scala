package graft.kg

import scala.collection.mutable

/** Multi-pattern whole-word dictionary matcher (SURVEY.md P1).
  *
  * Replaces the reference's O(|dict| * |text|) per-term regex loop
  * (reference: text2graph/macrostrat.py:118-154 — `\b{term}\b` finditer per
  * dictionary word) with a single-pass Aho-Corasick automaton built once per
  * executor from the dictionary that `Inference.run` broadcasts. Semantics
  * preserved exactly:
  *  - whole-word matches only: the char before the match start and after the
  *    match end must not be ASCII word chars [A-Za-z0-9_] (same boundary
  *    class as Python/RE2 `\b` on ASCII),
  *  - `ignoreCase` lowercases both dictionary and text (macrostrat.py:142-144:
  *    the mineral pipeline matches case-folded, strat matches exact),
  *  - results sorted by start offset (macrostrat.py:154),
  *  - overlapping occurrences of *different* terms are all reported, same as
  *    per-term finditer; occurrences of the same term are non-overlapping
  *    left-to-right, which for whole-word-bounded patterns equals finditer.
  *
  * Scale posture: the automaton is ~O(total dict chars) of int arrays, built
  * lazily once per (dictionary identity, case-mode) per JVM and shared by
  * all tasks — with a 45,646-term dictionary this is a few MB, never
  * shipped and never rebuilt per row or per partition. Only the term array
  * travels, in the inference broadcast, once per executor.
  */
final class MentionScanner private (
    terms: Array[String],
    ignoreCase: Boolean) extends Serializable {

  private def norm(s: String): String = if (ignoreCase) s.toLowerCase else s

  // --- build phase: hash-map trie (fast to construct) -------------------
  private val buildChildren = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
  private val buildFail = mutable.ArrayBuffer(0)
  private val buildOutputs = mutable.ArrayBuffer[List[Int]](Nil)

  locally {
    var t = 0
    while (t < terms.length) {
      val w = norm(terms(t))
      if (w.nonEmpty) {
        var node = 0
        var i = 0
        while (i < w.length) {
          val c = w.charAt(i).toLong
          node = buildChildren(node).getOrElse(c, {
            buildChildren += mutable.LongMap.empty[Int]
            buildFail += 0
            buildOutputs += Nil
            val nn = buildChildren.length - 1
            buildChildren(node)(c) = nn
            nn
          })
          i += 1
        }
        buildOutputs(node) = t :: buildOutputs(node)
      }
      t += 1
    }
    // BFS failure links (standard construction; depth-1 nodes fail to root)
    val queue = mutable.Queue.empty[Int]
    buildChildren(0).foreach { case (_, v) => buildFail(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      buildChildren(u).foreach { case (c, v) =>
        var f = buildFail(u)
        while (f != 0 && !buildChildren(f).contains(c)) f = buildFail(f)
        val target = buildChildren(f).getOrElse(c, 0)
        buildFail(v) = if (target == v) 0 else target
        buildOutputs(v) = buildOutputs(v) ++ buildOutputs(buildFail(v))
        queue += v
      }
    }
  }

  // --- match phase: compact CSR-style arrays -----------------------------
  // The scan is the hot loop of the whole engine (4 automaton passes per
  // page): per-char hash lookups in a LongMap are cache-hostile and made
  // the pipeline memory-bandwidth-bound (task time doubled from 2 to 8
  // cores before this layout). Edges live in two contiguous arrays sorted
  // per node, probed by a tiny binary search (nodes average < 2 edges);
  // fail links and output heads are flat int arrays.
  private val n = buildChildren.length
  private val edgeStart = new Array[Int](n + 1)
  private val edgeChar: Array[Char] = {
    var total = 0
    var i = 0
    while (i < n) { edgeStart(i) = total; total += buildChildren(i).size; i += 1 }
    edgeStart(n) = total
    new Array[Char](total)
  }
  private val edgeDest = new Array[Int](edgeChar.length)
  private val fail = new Array[Int](n)
  private val outHead = new Array[Int](n) // index into outTerm, -1 = none
  private val outTerm: Array[Int] = {
    var i = 0
    while (i < n) {
      val es = buildChildren(i).toSeq.sortBy(_._1)
      var j = edgeStart(i)
      es.foreach { case (c, d) => edgeChar(j) = c.toChar; edgeDest(j) = d; j += 1 }
      fail(i) = buildFail(i)
      i += 1
    }
    val flat = mutable.ArrayBuffer.empty[Int]
    i = 0
    while (i < n) {
      if (buildOutputs(i).isEmpty) outHead(i) = -1
      else {
        outHead(i) = flat.length
        buildOutputs(i).foreach(flat += _)
        flat += -1 // terminator
      }
      i += 1
    }
    flat.toArray
  }
  private val termsNorm: Array[String] = terms.map(norm)
  locally { // release build structures
    buildChildren.clear(); buildFail.clear(); buildOutputs.clear()
  }

  @inline private def childOf(node: Int, c: Char): Int = {
    var lo = edgeStart(node)
    var hi = edgeStart(node + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mc = edgeChar(mid)
      if (mc == c) return edgeDest(mid)
      else if (mc < c) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** All whole-word occurrences, sorted by (start, end). Offsets index into
    * the original text (case-folding preserves length).
    *
    * `\b` is evaluated exactly as Python/RE2 on ASCII: a boundary exists at
    * a position iff exactly one of the two adjacent chars is a word char
    * (out-of-bounds counts as non-word). Same-term overlapping hits are
    * suppressed greedily left-to-right, matching `re.finditer`'s
    * non-overlapping scan (reference: text2graph/macrostrat.py:121).
    */
  def findAll(text0: String): Seq[Model.Mention] = {
    val text = norm(text0)
    val hits = mutable.ArrayBuffer.empty[Model.Mention]
    val lastEnd = mutable.LongMap.empty[Int] // termIdx -> last accepted end
    var node = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      var next = childOf(node, c)
      while (node != 0 && next < 0) { node = fail(node); next = childOf(node, c) }
      node = if (next >= 0) next else 0
      var oi = outHead(node)
      if (oi >= 0) {
        while (outTerm(oi) >= 0) {
          val t = outTerm(oi)
          val w = termsNorm(t)
          val start = i - w.length + 1
          val end = i + 1
          val wordAtStart = isWordChar(text.charAt(start))
          val wordBeforeStart = start > 0 && isWordChar(text.charAt(start - 1))
          val wordAtLast = isWordChar(text.charAt(end - 1))
          val wordAfterEnd = end < text.length && isWordChar(text.charAt(end))
          val bounded = (wordAtStart != wordBeforeStart) && (wordAtLast != wordAfterEnd)
          if (bounded && start >= lastEnd.getOrElse(t.toLong, 0)) {
            // In ignore-case mode the reference matches over the LOWERED
            // text, so the reported word is the case-folded form
            // (macrostrat.py:142-144: match.group() of the lowered text).
            hits += Model.Mention(text.substring(start, end), start, end)
            lastEnd(t.toLong) = end
          }
          oi += 1
        }
      }
      i += 1
    }
    hits.sortBy(m => (m.start, m.end)).toSeq
  }
}

object MentionScanner {
  // Executor-local automaton cache: one build per (dict identity, case mode)
  // per JVM, shared across tasks (SURVEY B5 executor-singleton pattern).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, String, String, Boolean), MentionScanner]()

  def apply(terms: Array[String], ignoreCase: Boolean): MentionScanner = {
    // content hash + length + boundary elements: a bare 32-bit array hash
    // colliding across two dictionaries would silently reuse the wrong
    // automaton for the lifetime of the executor
    val key = (java.util.Arrays.hashCode(terms.asInstanceOf[Array[AnyRef]]),
      terms.length, terms.headOption.getOrElse(""), terms.lastOption.getOrElse(""),
      ignoreCase)
    cache.computeIfAbsent(key, _ => new MentionScanner(terms, ignoreCase))
  }
}
