package kgbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory

/** A seeded stand-in for a hosted model endpoint, plugged into
  * `Inference.TransportClient` as its `String => String` transport.
  *
  * Given the same payload and the same attempt number it answers the same
  * way, so a run is reproducible from its seed:
  *  - each prompt's answer echoes the prompt's known-entity lists with
  *    LLM-like surface noise (case, trailing period, Fm/Formation, a
  *    one-character typo), derived from a hash of the prompt;
  *  - a payload's first attempt may fail transiently with a malformed
  *    body (a non-JSON proxy page or a JSON error envelope); a per-payload
  *    attempt counter makes the client's retry heal it;
  *  - a prompt whose page text carries [[FakeEndpoint.StuckMarker]] fails
  *    every payload that carries it for its first `stuckAttempts` attempts,
  *    counted per prompt across payloads: with `stuckAttempts` at the
  *    client's retry limit the batch exhausts its retries, and a later
  *    re-drive of the page heals;
  *  - every call takes at least `latencyMs`, as a hosted model would.
  *
  * Spark serializes the transport into every task; the counters therefore
  * live in a JVM-wide registry keyed by endpoint id (one JVM in local
  * mode), and the benchmark reads them from outside the engine.
  */
final case class FakeEndpoint(id: String, seed: Long, transientRate: Double,
                              latencyMs: Int = 0, stuckAttempts: Int = 0)
    extends (String => String) {

  def apply(payload: String): String = {
    val st = FakeEndpoint.state(id)
    val t0 = System.nanoTime()
    try {
      st.calls.incrementAndGet()
      val root = FakeEndpoint.mapper.readTree(payload)
      val prompts = (0 until root.get("prompts").size).map(i => root.get("prompts").get(i).asText)
      val attempt = st.payloadAttempts.merge(payload, 1, (a, b) => a + b)
      if (attempt > 1) st.retries.incrementAndGet()
      if (latencyMs > 0) Thread.sleep(latencyMs)
      val stuck = prompts.map(p => (p, st.promptAttempts.merge(p, 1, (a, b) => a + b)))
        .exists { case (p, n) => n <= stuckAttempts && p.contains(FakeEndpoint.StuckMarker) }
      if (stuck) {
        st.faults.incrementAndGet()
        FakeEndpoint.ErrorEnvelope
      } else if (attempt == 1 && FakeEndpoint.u(seed, payload, "transient") < transientRate) {
        st.faults.incrementAndGet()
        if (FakeEndpoint.u(seed, payload, "kind") < 0.5) FakeEndpoint.ProxyError
        else FakeEndpoint.ErrorEnvelope
      } else {
        val outs = JsonNodeFactory.instance.arrayNode()
        prompts.foreach(p => outs.add(FakeEndpoint.answer(seed, p)))
        val body = JsonNodeFactory.instance.objectNode()
        body.set[com.fasterxml.jackson.databind.JsonNode]("outputs", outs)
        FakeEndpoint.mapper.writeValueAsString(body)
      }
    } finally st.busyNanos.addAndGet(System.nanoTime() - t0)
  }
}

object FakeEndpoint {
  val ProxyError = "<html><body><h1>502 Bad Gateway</h1></body></html>"
  val ErrorEnvelope = """{"error": "rate limited", "outputs": null}"""
  /** Page text that makes the endpoint fail the page's first attempts. */
  val StuckMarker = "Served from a mirror under maintenance."

  final class State {
    val calls, faults, retries, busyNanos = new AtomicLong()
    val payloadAttempts, promptAttempts = new ConcurrentHashMap[String, Integer]()
    def snapshot: Map[String, Long] = Map("calls" -> calls.get, "faults" -> faults.get,
      "retries" -> retries.get, "busy_ns" -> busyNanos.get)
  }

  private val states = new ConcurrentHashMap[String, State]()
  def state(id: String): State = states.computeIfAbsent(id, _ => new State)

  private lazy val mapper = new ObjectMapper()

  /** A uniform [0, 1) draw keyed by seed, content and purpose. */
  def u(seed: Long, content: String, salt: String): Double = {
    val b = (salt + "\u0000" + content).getBytes("UTF-8")
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length,
      seed.toInt ^ (seed >>> 32).toInt)
    (h.toLong & 0xffffffffL) / 4294967296.0
  }

  private val StratList = "Only use stratigraphic names from this list: "
  private val MineralList = "Do not include anything that is not on this list: "
  private val ListEnd = ". [/INST]"
  private val Relations = Array("overlies", "underlies", "contains", "includes",
    "is found in", "unconformable contact")

  private def listAfter(prompt: String, marker: String): Seq[String] = {
    val i = prompt.indexOf(marker)
    if (i < 0) Seq.empty
    else {
      val from = i + marker.length
      val to = prompt.indexOf(ListEnd, from)
      if (to <= from) Seq.empty
      else prompt.substring(from, to).split(", ").toSeq.filter(_.nonEmpty)
    }
  }

  /** The user text of the first handler's wrapped prompt. */
  private def userText(prompt: String): String = {
    val i = prompt.indexOf("[/INST]\n")
    if (i < 0) prompt else prompt.substring(i + 8).split("\n\n\\[INST\\]")(0)
  }

  /** Surface noise a model adds when it copies a name. */
  def noisy(seed: Long, prompt: String, name: String): String = {
    val r = u(seed, prompt + "\u0001" + name, "noise")
    if (r < 0.55) name
    else if (r < 0.65) name.toLowerCase
    else if (r < 0.73) name + "."
    else if (r < 0.83 && name.endsWith(" Formation")) name.stripSuffix(" Formation") + " Fm"
    else if (r < 0.83) name + " Formation"
    else if (name.length > 7) {
      // one-character substitution inside the name, never at its ends
      val at = 2 + (u(seed, prompt + name, "typo") * (name.length - 4)).toInt
      val c = name.charAt(at)
      name.substring(0, at) + (if (c == 'e') 'a' else 'e') + name.substring(at + 1)
    } else name
  }

  /** The answer for one prompt: a triplet per known entity, located at the
    * first gazetteer name the text mentions. */
  def answer(seed: Long, prompt: String): String = {
    val text = userText(prompt)
    val loc = Inputs.Locations.find(text.contains).getOrElse(Inputs.Locations.head)
    val triplets = JsonNodeFactory.instance.arrayNode()
    def add(name: String, key: String): Unit = {
      val t = triplets.addObject()
      t.put("location", loc)
      t.put("relationship",
        Relations((u(seed, prompt + name, "rel") * Relations.length).toInt))
      t.put(key, noisy(seed, prompt, name))
    }
    listAfter(prompt, StratList).foreach(add(_, "stratigraphic_name"))
    listAfter(prompt, MineralList).foreach(add(_, "mineral_name"))
    val o = JsonNodeFactory.instance.objectNode()
    o.set[com.fasterxml.jackson.databind.JsonNode]("triplets", triplets)
    mapper.writeValueAsString(o)
  }
}
