package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The batched model-inference stage (SURVEY.md B2/B3/B5).
  *
  * The reference runs vLLM `llm.generate(prompts)` over mini-batches of 200
  * paragraphs per call inside each HTCondor job
  * (reference: chtc/preprocess_extraction_direct.py:86-146). Spark-side this
  * becomes a `mapPartitions` stage: each task drains its partition iterator
  * in micro-batches of `microBatch` rows into an [[InferenceClient]], the
  * single genuinely imperative boundary in the whole plan (everything before
  * and after is declarative DataFrame code).
  *
  * Clients are executor-singletons: [[run]] ships the client and its prompt
  * dictionaries in one broadcast, deserialized once per executor JVM and
  * shared by all its tasks (reference: chtc/preprocess_extraction_direct.py:
  * 44-66 loads vLLM/Weaviate once per process), so at 1000 executors there
  * are 1000 client instances, not one per task, and every task binary
  * carries a broadcast handle instead of the dictionaries.
  *
  * Determinism: all shipped clients are pure functions of the page text, so
  * the stage is retry-safe (a re-executed task emits identical rows) — the
  * property that makes checkpoint/resume exactly-once (SURVEY.md §7.4).
  */
object Inference {

  /** One inference request. `prompt` is the handler-built, template-wrapped
    * prompt (dictionary pre-annotation included — reference:
    * text2graph/prompt.py:41-67 + chtc/preprocess_extraction_direct.py:130);
    * empty when the stage runs promptless (dev tools). Deterministic
    * clients extract from `text`; a real LLM client consumes `prompt`. */
  final case class Request(url: String, hashed_text: String, text: String,
                           lang: String, prompt: String = "")

  /** One instance serves every task of an executor concurrently (see
    * [[run]]), so an implementation must be thread-safe: immutable state,
    * thread-safe lazy initialization, or synchronized/atomic counters. */
  trait InferenceClient extends Serializable {
    def modelId: String
    /** One raw JSON string per request, same order. */
    def infer(batch: Seq[Request]): Seq[String]
  }

  /** Deterministic rule-based extractor standing in for the LLM on bulk
    * synthetic pages. Mirrors the *shape* of the reference's extraction
    * (location/relationship/entity triplets keyed per the prompt handler,
    * reference: text2graph/prompt.py:54-138): dictionary-scan the text for
    * location and entity mentions, pair each entity with the nearest
    * preceding location, take the predicate from a fixed relationship
    * lexicon if one occurs between them, else "mentions".
    */
  final class HeuristicClient(
      stratTerms: Array[String],
      locationTerms: Array[String],
      mineralTerms: Array[String]) extends InferenceClient {

    val modelId = "graft-heuristic-v1"

    private val Predicates = Array("unconformable contact", "includes",
      "contains", "overlies", "underlies", "is found near", "is found in",
      "may be a correlative conformity", "is equivalent to")

    @transient private lazy val stratScanner = MentionScanner(stratTerms, ignoreCase = false)
    @transient private lazy val locScanner = MentionScanner(locationTerms, ignoreCase = false)
    @transient private lazy val mineralScanner = MentionScanner(mineralTerms, ignoreCase = true)
    @transient private lazy val predScanner = MentionScanner(Predicates, ignoreCase = true)

    // Sanitize rather than escape: the downstream cleanup stage strips all
    // backslashes before parsing (faithful to the reference's vllm cleanup,
    // chtc/preprocess_extraction_direct.py:173-175), so escape sequences
    // would not survive it. Dictionary terms never contain these chars.
    private def jsonEscape(s: String): String =
      s.map {
        case '"' => '\''
        case '\\' => '/'
        case c if c < ' ' => ' '
        case c => c
      }

    def extractOne(text: String): String = {
      val locs = locScanner.findAll(text)
      val strats = stratScanner.findAll(text)
      val minerals = mineralScanner.findAll(text)
      val preds = predScanner.findAll(text)

      def nearestLoc(pos: Int): Option[Model.Mention] = {
        val before = locs.filter(_.end <= pos)
        if (before.nonEmpty) Some(before.last)
        else locs.find(_.start >= pos)
      }
      def predBetween(a: Int, b: Int): String = {
        val (lo, hi) = if (a < b) (a, b) else (b, a)
        preds.find(p => p.start >= lo && p.end <= hi).map(_.word.toLowerCase)
          .getOrElse("mentions")
      }

      val stratTriples = strats.flatMap { m =>
        nearestLoc(m.start).map { l =>
          (l.word, predBetween(l.end, m.start), m.word, "stratigraphic_name")
        }
      }
      val mineralTriples = minerals.flatMap { m =>
        nearestLoc(m.start).map { l =>
          (l.word, predBetween(l.end, m.start), m.word.toLowerCase, "mineral_name")
        }
      }
      val items = (stratTriples ++ mineralTriples).distinct.map {
        case (loc, pred, obj, key) =>
          s"""{"location": "${jsonEscape(loc)}", "relationship": "${jsonEscape(pred)}", "$key": "${jsonEscape(obj)}"}"""
      }
      s"""{"triplets": [${items.mkString(", ")}]}"""
    }

    def infer(batch: Seq[Request]): Seq[String] = batch.map(r => extractOne(r.text))
  }

  /** Replays recorded outputs keyed by hashed_text, delegating misses —
    * exactly the reference's hermetic-test pattern of injecting the
    * `raw_llm_output` fixture (reference: tests/conftest.py:22-24,
    * tests/test_llm.py:35-44). */
  final class FixtureClient(
      recorded: Map[String, String],
      fallback: InferenceClient) extends InferenceClient {
    val modelId = s"graft-fixture+${fallback.modelId}"
    /** Misses delegate in ONE batched fallback call, preserving the B3
      * vectorized-inference contract through the wrapper — a real LLM
      * fallback sees the same micro-batch shape it would without the
      * recording layer (per-request delegation would collapse a 200-row
      * vLLM generate into 200 single-prompt calls). */
    def infer(batch: Seq[Request]): Seq[String] = {
      val misses = batch.zipWithIndex
        .filterNot { case (r, _) => recorded.contains(r.hashed_text) }
      val missOut: Map[Int, String] =
        if (misses.isEmpty) Map.empty
        else misses.map(_._2).zip(fallback.infer(misses.map(_._1))).toMap
      batch.zipWithIndex.map { case (r, i) =>
        recorded.getOrElse(r.hashed_text, missOut(i))
      }
    }
  }

  object FixtureClient {
    def sha256(s: String): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    /** Recorded-output map for the reference fixture pages. */
    def referenceRecordings: Map[String, String] =
      Fixtures.FixturePages.collect {
        case (_, text, _, raw) if raw != null => sha256(text) -> raw
      }.toMap
  }

  /** Default client: reference recordings over the heuristic extractor,
    * with dictionaries drawn from the dimension snapshot rows. */
  def defaultClient(stratNames: Array[String], locationNames: Array[String],
                    mineralNames: Array[String]): InferenceClient =
    new FixtureClient(FixtureClient.referenceRecordings,
      new HeuristicClient(stratNames, locationNames, mineralNames))

  /** [[defaultClient]] over the pinned fixture dictionaries — the one
    * construction every fixture-pipeline caller (gate queries, dev
    * probes) shares, so the dictionary arguments cannot silently diverge
    * between call sites. */
  def pinnedClient: InferenceClient = defaultClient(
    Dims.pinnedStrat.map(_.strat_name).toArray,
    Dims.gazetteer.map(_.name).toArray,
    Dims.pinnedMinerals.map(_.mineral).toArray)

  /** Upper bound on the prompt-dictionary driver collect. The reference
    * ships its whole 45,646-name list into every job the same way
    * (chtc/preprocess_extraction_direct.py:19-28 loads the frozen global
    * list), and a dictionary-bounded dim stays well under this. The bound
    * exists for the OPEN-VOCABULARY posture: an alias table that grows with
    * the corpus must not ride a driver collect — build a capped top-df
    * slice of it (a bounded snapshot) and pass that through
    * `Config.promptDicts` / `rawParsedStream(promptDicts = ...)` instead. */
  val PromptDictMaxTerms: Int = 250000

  /** The prompt-dictionary bootstrap BOTH pipeline skins share (batch
    * KgPipeline.run and streaming rawParsedStream) — the one driver-side
    * collect in the engine whose bound is the dictionary rather than a
    * constant, so it is guarded: the collect itself is `limit(max+1)`
    * (never materializes an oversized column on the driver) and an
    * over-bound dictionary fails fast with the open-vocabulary remedy
    * instead of OOMing the driver mid-job. */
  def promptDictsFromDims(dims: Dims.Snapshot,
                          maxTerms: Int = PromptDictMaxTerms): Seq[HandlerDict] = {
    def bounded(df: DataFrame, colName: String): Array[String] = {
      val rows = df.select(colName).limit(maxTerms + 1).collect()
      require(rows.length <= maxTerms,
        s"prompt dictionary column '$colName' exceeds the $maxTerms-term " +
          "driver-collect bound; pass a capped top-df dictionary slice via " +
          "Config.promptDicts / rawParsedStream(promptDicts) instead of " +
          "collecting the open-vocabulary table whole")
      rows.map(_.getString(0))
    }
    Seq(Prompts.StratV3 -> bounded(dims.stratDim, "strat_name"),
      Prompts.MineralV0 -> bounded(dims.mineralDim, "mineral"))
  }

  /** The real-LLM client seam, made concrete (reference model dispatch:
    * text2graph/llm.py:283-295 routes a model name to an OpenAI- or
    * vLLM-backed ask function). The transport — one JSON request body in,
    * one JSON response body out, e.g. an HTTP POST to a vLLM
    * `/v1/completions` endpoint — is INJECTED, so the engine carries the
    * full batching/payload/parse/retry logic while staying offline-testable
    * (this sandbox has zero egress; a deployment passes a real POST).
    *
    * Batching: the whole micro-batch ships as ONE payload (`prompts` array
    * — vLLM's `llm.generate(prompts)` contract, B3), never one call per
    * row. Retries: `maxRetries` transport attempts per batch (B7's
    * bounded-retry posture); a batch that exhausts retries maps every
    * request to an empty raw output — the lenient parse stage records the
    * failure downstream, mirroring the reference's "NA" placeholders
    * (chtc/db.py:26-44) instead of failing the Spark task. */
  final class TransportClient(
      val modelId: String,
      transport: String => String,
      maxRetries: Int = 3) extends InferenceClient {
    // 0 would make no call at all and record every page as infer-failed
    require(maxRetries > 0, s"maxRetries must be > 0, got $maxRetries")
    private def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    def infer(batch: Seq[Request]): Seq[String] = {
      val payload = batch.map(r =>
        "\"" + esc(if (r.prompt.nonEmpty) r.prompt else r.text) + "\"")
        .mkString(s"""{"model": "${esc(modelId)}", "prompts": [""", ", ", "]}")
      // Retries heal TRANSIENT faults: the POST threw (timeout, reset); the
      // body is not JSON at all — a proxy/load-balancer error page
      // ("<html>502...") arrives as a normal return value when the injected
      // transport does not throw on non-2xx; or the body is a JSON error
      // ENVELOPE — real endpoints report 429/503 as JSON too
      // ({"error": "rate limited"}), so a body carrying an `error` field or
      // no `outputs` key at all is treated as transient and re-sent.
      // Only a response whose `outputs` IS present but has the wrong shape
      // (non-array, or cardinality != batch size) is the endpoint itself
      // violating the generate contract — deterministic given the same
      // payload, so re-sending cannot heal it and against a paid endpoint
      // would bill the batch maxRetries times: it degrades to empty raws
      // after ONE such response.
      var attempt = 0
      var out: Option[Seq[String]] = None
      var contractViolation = false
      while (out.isEmpty && !contractViolation && attempt < maxRetries) {
        attempt += 1
        try {
          val body = transport(payload)
          val root =
            try Some(PostProcess.mapper.readTree(body))
            catch { case _: Exception => None } // not JSON: transient, retry
          root.foreach { r =>
            val arr = r.get("outputs")
            // hasNonNull, not has(): many APIs always include the error
            // key and signal success with an explicit null ("error": null)
            if (r.hasNonNull("error") || arr == null)
              () // JSON error envelope / no outputs: transient, retry
            else if (!arr.isArray || arr.size != batch.size)
              contractViolation = true // outputs present, wrong shape: fail fast
            else out = Some((0 until arr.size).map(i => arr.get(i).asText))
          }
        } catch { case _: Exception => () } // transport fault: retry
      }
      out.getOrElse(batch.map(_ => ""))
    }
  }

  /** Prompt-stage spec: one handler plus the dictionary whose mentions are
    * injected into its system prompt (reference builds one handler per job,
    * text2graph/llm.py:281 `prompt_handler.get_gpt_messages(text)`; our
    * unified pipeline runs both kinds, so the wrapped prompts concatenate). */
  type HandlerDict = (Prompts.Handler, Array[String])

  def promptVersion(prompting: Seq[HandlerDict]): String =
    prompting.map(_._1.version).mkString("+")

  /** The mapPartitions host. Input must carry (url, hashed_text, text, lang);
    * output adds (raw, model_id, prompt_version). Micro-batch default
    * follows the reference's chosen operating point of 200
    * (reference: chtc/preprocess_extraction_direct.py:68; BASELINE.md).
    *
    * When `prompting` is non-empty, each request's prompt is built in-task
    * before the client call: per-handler dictionary scan (JVM-cached
    * Aho-Corasick automaton, B5) → known-entity system prompt → Mixtral
    * instruction wrap — the seam a real LLM client plugs into
    * (reference: text2graph/llm.py:281-311).
    *
    * `client` and `prompting` ship in ONE broadcast that the task body reads
    * through `.value`; `registerBroadcast` receives it so a run's owner can
    * unpersist it with the run's caches (a streaming query keeps it for its
    * lifetime). */
  def run(pages: DataFrame, client: InferenceClient, microBatch: Int = 200,
          prompting: Seq[HandlerDict] = Seq.empty,
          registerBroadcast: Broadcast[_] => Unit = _ => ()): Dataset[Model.RawExtraction] = {
    // 0 would otherwise fail only at task time, inside Iterator.grouped
    require(microBatch > 0, s"microBatch must be > 0, got $microBatch")
    val spark = pages.sparkSession
    import spark.implicits._
    val pv = promptVersion(prompting)
    val shipped = spark.sparkContext.broadcast((client, prompting))
    registerBroadcast(shipped)
    pages.select(col("url"), col("hashed_text"), col("text"), col("lang"),
        lit("").as("prompt")).as[Request]
      .mapPartitions { it =>
        // the closure captures the handle only, never `client`/`prompting`
        val (c, dicts) = shipped.value
        val handlers = dicts.map { case (h, terms) =>
          (h, MentionScanner(terms, h.ignoreCase))
        }
        it.grouped(microBatch).flatMap { batch =>
          val reqs =
            if (handlers.isEmpty) batch
            else batch.map { r =>
              val prompt = handlers.map { case (h, sc) =>
                Prompts.mixtralWrap(h.messages(r.text, sc))
              }.mkString("\n\n")
              r.copy(prompt = prompt)
            }
          val outs = c.infer(reqs)
          reqs.iterator.zip(outs.iterator).map { case (r, raw) =>
            Model.RawExtraction(r.url, r.hashed_text, r.lang, raw, c.modelId, pv)
          }
        }
      }
  }
}
