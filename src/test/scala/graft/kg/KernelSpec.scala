package graft.kg

import org.scalatest.funsuite.AnyFunSuite

class HtmlTextSpec extends AnyFunSuite {
  test("roundtrip is byte-exact on fixture paragraphs") {
    for ((_, text, lang, _) <- Fixtures.FixturePages) {
      assert(HtmlText.extract(HtmlText.render(text, lang)) === text)
    }
  }
  test("roundtrip property: extract(render(t)) == t (seeded random)") {
    val rnd = new scala.util.Random(42)
    val atoms = Array("word", "<b>&amp;</b>", "a\n\nb", "x & y < z > w", "",
      "tag<p>inside", "&lt;already&gt;", "trailing\n\n", "\n", "ünïcode ✓")
    for (_ <- 1 to 500) {
      val t = Seq.fill(rnd.nextInt(8))(atoms(rnd.nextInt(atoms.length))).mkString(" ")
      assert(HtmlText.extract(HtmlText.render(t, "en")) === t)
    }
  }
  test("extracts from generic non-canonical html") {
    val html = "<html><body><div><h1>Title</h1><p>one</p><p>two</p></div></body></html>"
    assert(HtmlText.extract(html.getBytes("UTF-8")) === "Title\n\none\n\ntwo")
  }
}

class MentionScannerSpec extends AnyFunSuite {

  /** The reference implementation: per-term \b regex finditer
    * (reference: text2graph/macrostrat.py:118-154). */
  private def regexFindAll(text0: String, words: Seq[String], ignoreCase: Boolean): Seq[(String, Int, Int)] = {
    val text = if (ignoreCase) text0.toLowerCase else text0
    words.map(w => if (ignoreCase) w.toLowerCase else w).flatMap { w =>
      if (w.isEmpty) Nil
      else {
        val p = java.util.regex.Pattern.compile("\\b" + java.util.regex.Pattern.quote(w) + "\\b")
        val m = p.matcher(text)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
        while (m.find()) out += ((m.group(), m.start, m.end))
        out.toSeq
      }
    }.sortBy(x => (x._2, x._3))
  }

  test("matches reference regex semantics on the Sauk paragraph") {
    val dict = Dims.pinnedStrat.map(_.strat_name).toArray
    val got = MentionScanner(dict, ignoreCase = false).findAll(Fixtures.SaukText)
      .map(m => (m.word, m.start, m.end))
    val want = regexFindAll(Fixtures.SaukText, dict.toIndexedSeq, ignoreCase = false)
    assert(got === want)
    assert(got.map(_._1).contains("Shakopee"))
    assert(got.map(_._1).contains("Sauk"))
  }

  test("case-insensitive mode finds gallium like the mineral prompt") {
    // reference: tests/test_prompt.py asserts "gallium" injection from
    // "Gallium is found in Minnesota." via ignore_case matching
    val scanner = MentionScanner(Array("gallium", "gold"), ignoreCase = true)
    val hits = scanner.findAll(Fixtures.SaukText)
    assert(hits.map(_.word.toLowerCase) === Seq("gallium"))
  }

  test("whole-word boundaries: no substring hits") {
    val scanner = MentionScanner(Array("old"), ignoreCase = false)
    assert(scanner.findAll("The golden oldie is old.").map(_.start) === Seq(20))
  }

  test("property: equals regex reference on random word-soup (seeded)") {
    val rnd = new scala.util.Random(7)
    val dictPool = Array("alpha", "beta", "gamma delta", "x1", "under_score",
      "St. Peter", "a-a", "zz")
    val textPool = Array("alpha", "beta,", "gamma delta", "x1.", "alphabet",
      "St. Peter", "(beta)", "under_score", "zzz", "a-a-a", "zz_z", "-")
    for (_ <- 1 to 300) {
      val t = Seq.fill(rnd.nextInt(25) + 1)(textPool(rnd.nextInt(textPool.length)))
        .mkString(if (rnd.nextBoolean()) " " else "")
      val d = rnd.shuffle(dictPool.toList).take(rnd.nextInt(dictPool.length) + 1).distinct
      val got = MentionScanner(d.toArray, ignoreCase = false).findAll(t)
        .map(m => (m.word, m.start, m.end))
      assert(got === regexFindAll(t, d, ignoreCase = false), s"text='$t' dict=$d")
    }
  }
}

class EntityNamesSpec extends AnyFunSuite {
  test("pyTitle matches Python str.title() semantics") {
    assert(EntityNames.pyTitle("o'brien") === "O'Brien")
    assert(EntityNames.pyTitle("abc1def") === "Abc1Def")
    assert(EntityNames.pyTitle("waldron shale") === "Waldron Shale")
    assert(EntityNames.pyTitle("UPPER CASE") === "Upper Case")
  }
  test("entityName formats like the reference (general.py:8-16)") {
    assert(EntityNames.entityName("Waldron Shale") === "WaldronShale")
    assert(EntityNames.entityName("Agrinierite") === "Agrinierite")
    // en-dash is a single char: " – " → "–" after space removal → one "-"
    assert(EntityNames.entityName(" Powell – Smithville – Black Rock ") ===
      "Powell-Smithville-BlackRock")
    assert(EntityNames.entityName("St. Peter Sandstone") === "St.PeterSandstone".replace(".", "-"))
  }
  test("intervalName keeps hyphens, strips quotes") {
    assert(EntityNames.intervalName("late Ordovician") === "LateOrdovician")
    assert(EntityNames.intervalName("\"Tremadoc\"") === "Tremadoc")
  }
}

class ChemSpec extends AnyFunSuite {
  test("Agrinierite formula → elements (schema.py:301-337 scan semantics)") {
    assert(Chem.toElements("K2(Ca,Sr)[(UO2)3O3(OH)2]2·5H2O") ===
      Seq("Ca", "H", "K", "O", "Sr", "U"))
  }
  test("single elements and fallbacks") {
    assert(Chem.toElements("Au") === Seq("Au"))
    assert(Chem.toElements("BaSO4") === Seq("Ba", "O", "S"))
    assert(Chem.toElements("CaF2") === Seq("Ca", "F"))
    // 2-letter greediness: "Co" vs "C","O"
    assert(Chem.toElements("CoO") === Seq("Co", "O"))
  }
  test("invalid candidates dropped") {
    // "Xx" scans as 2-letter candidate but is not an element
    assert(Chem.toElements("Xx") === Seq())
  }
  test("USGS tables sized as in the reference (usgs.py)") {
    assert(Chem.CriticalMinerals.size === 50)
    assert(Chem.UsgsFormulas.size === 24)
  }
}

class PostProcessSpec extends AnyFunSuite {
  test("golden fixture parses to the 10 reference triplets") {
    val got = PostProcess.parseOne(Fixtures.SaukRawOutput)
      .map(p => (p.location, p.relationship, p.obj_name)).toSet
    assert(got === Fixtures.SaukGoldenTriples)
    assert(PostProcess.parseOne(Fixtures.SaukRawOutput).forall(_.obj_kind == "strat"))
  }
  test("bare list is re-wrapped (llm.py:211-213)") {
    val got = PostProcess.parseOne(Fixtures.BareListOutput)
    assert(got.map(_.obj_name) === Seq("Shakopee Formation"))
  }
  test("trailing garbage repaired (preprocess_extraction_direct.py:175)") {
    val got = PostProcess.parseOne(Fixtures.TrailingGarbageOutput)
    assert(got.map(_.obj_name) === Seq("Shakopee Formation"))
  }
  test("invalid elements dropped individually (llm.py:222-228)") {
    val got = PostProcess.parseOne(Fixtures.InvalidRowOutput)
    assert(got.size === 1)
    assert(got.head.obj_name === "Shakopee Formation")
  }
  test("list-valued location coerced to join (schema.py:389-393)") {
    val raw = """{"triplets": [{"location": ["Minnesota", "Wisconsin"], "relationship": "contains", "stratigraphic_name": "Sauk"}]}"""
    assert(PostProcess.parseOne(raw).head.location === "Minnesota, Wisconsin")
  }
  test("mineral key sets the discriminator") {
    val got = PostProcess.parseOne(Fixtures.GoldRawOutput)
    assert(got === Seq(PostProcess.ParsedTriplet("Minnesota", "is found in", "gold", "mineral")))
  }
  test("unparseable input yields empty, not failure") {
    assert(PostProcess.parseOne("totally not json") === Nil)
    assert(PostProcess.parseOne("") === Nil)
    assert(PostProcess.parseOne("{\"other\": 1}") === Nil)
  }

  test("TransportClient ships one batched payload, maps outputs in order") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new Inference.TransportClient("vllm-test", { payload =>
      seen += payload
      val n = "\"prompts\"\\s*:\\s*\\[".r.findFirstIn(payload).size
      assert(n == 1)
      """{"outputs": ["out-a", "out-b"]}"""
    })
    val reqs = Seq(
      Inference.Request("u1", "h1", "text a", "en", prompt = "p-a"),
      Inference.Request("u2", "h2", "text \"b\"\nline", "en"))
    assert(c.infer(reqs) === Seq("out-a", "out-b"))
    assert(seen.size === 1)                 // one transport call per batch
    assert(seen.head.contains("p-a"))       // prompt preferred over text
    assert(seen.head.contains("""text \"b\"\nline""")) // JSON-escaped
  }

  test("TransportClient retries then degrades to empty outputs (B7)") {
    var calls = 0
    val flaky = new Inference.TransportClient("vllm-test", { _ =>
      calls += 1
      if (calls < 3) throw new RuntimeException("boom")
      """{"outputs": ["ok"]}"""
    }, maxRetries = 3)
    assert(flaky.infer(Seq(Inference.Request("u", "h", "t", "en"))) === Seq("ok"))
    assert(calls === 3)
    // a size-mismatched (contract-violating) response is DETERMINISTIC
    // given the same payload: it fails fast to the empty-raw degradation
    // after ONE attempt — retrying would bill an LLM endpoint maxRetries
    // times for the same wrong answer (ADVICE round 4)
    var calls2 = 0
    val broken = new Inference.TransportClient("vllm-test", { _ =>
      calls2 += 1; """{"outputs": ["only-one"]}"""
    }, maxRetries = 3)
    val two = Seq(Inference.Request("a", "h", "t", "en"),
      Inference.Request("b", "h", "t", "en"))
    assert(broken.infer(two) === Seq("", ""))
    assert(calls2 === 1)
    // an unparseable body is TRANSIENT (a proxy error page returned by a
    // non-throwing transport): retried like a thrown transport fault
    var calls3 = 0
    val garbled = new Inference.TransportClient("vllm-test", { _ =>
      calls3 += 1
      if (calls3 < 3) "<html>502 Bad Gateway</html>"
      else """{"outputs": ["a", "b"]}"""
    }, maxRetries = 3)
    assert(garbled.infer(two) === Seq("a", "b"))
    assert(calls3 === 3)
    // pure transport faults (the POST threw) exhaust all retries
    var calls4 = 0
    val down = new Inference.TransportClient("vllm-test", { _ =>
      calls4 += 1; throw new RuntimeException("connection refused")
    }, maxRetries = 3)
    assert(down.infer(two) === Seq("", ""))
    assert(calls4 === 3)
    // a JSON error ENVELOPE ({"error": "rate limited"} — how real
    // endpoints surface 429/503 bodies) is TRANSIENT: retried, not
    // classified as a contract violation (ADVICE round 5)
    var calls5 = 0
    val limited = new Inference.TransportClient("vllm-test", { _ =>
      calls5 += 1
      if (calls5 < 3) """{"error": "rate limited", "retry_after": 1}"""
      else """{"outputs": ["a", "b"]}"""
    }, maxRetries = 3)
    assert(limited.infer(two) === Seq("a", "b"))
    assert(calls5 === 3)
    // ...and an error field beside a well-shaped outputs array still reads
    // as an error envelope (retry), never a half-trusted success
    var calls6 = 0
    val mixed = new Inference.TransportClient("vllm-test", { _ =>
      calls6 += 1; """{"outputs": ["x", "y"], "error": "partial failure"}"""
    }, maxRetries = 2)
    assert(mixed.infer(two) === Seq("", ""))
    assert(calls6 === 2)
    // but an explicit NULL error ("error": null — the always-present error
    // key many APIs use to signal success) is NOT an envelope: first try
    var calls7 = 0
    val nullErr = new Inference.TransportClient("vllm-test", { _ =>
      calls7 += 1; """{"outputs": ["p", "q"], "error": null}"""
    }, maxRetries = 3)
    assert(nullErr.infer(two) === Seq("p", "q"))
    assert(calls7 === 1)
    // zero attempts would never call the endpoint: rejected at construction
    assertThrows[IllegalArgumentException](
      new Inference.TransportClient("vllm-test", _ => "", maxRetries = 0))
  }
}

class MainSpec extends AnyFunSuite {
  test("kg.Main parses every flag; --salted and --cosine-lsh are unknown") {
    val valued = Seq("pages", "out", "partitions", "dedup", "fuzzy", "fuzzy-cap",
      "cosine", "compact-dedup", "expire", "grace-ms", "buckets")
    val switches = Seq("no-canonicalize", "compact", "redrive", "rewrite")
    val args = valued.flatMap(f => Seq(s"--$f", s"v-$f")) ++ switches.map("--" + _)
    assert(Main.parse(args.toList, Map.empty) ===
      valued.map(f => f -> s"v-$f").toMap ++ switches.map(_ -> "1"))
    for (gone <- Seq(List("--salted"), List("--cosine-lsh", "64,8"),
        List("--open-vocabulary"))) {
      val e = intercept[RuntimeException](Main.parse("--out" :: "o" :: gone, Map.empty))
      assert(e.getMessage === s"unknown arg: ${gone.head}")
    }
  }
}
