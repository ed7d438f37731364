package graft.kql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.kql.Kql._

/** KQL dialect defaults (SURVEY.md §2.E): `sort by` with no direction is
  * DESCENDING (README.md:376), `top` likewise, `summarize` groups. */
class KqlSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(("a", 1), ("b", 3), ("c", 2)).toDF("k", "v")

  test("kqlSort defaults to descending (README.md:376)") {
    assert(df.kqlSort(col("v")).select("k").as[String].collect().toSeq == Seq("b", "c", "a"))
  }

  test("top n by c takes the n largest") {
    assert(df.top(2, col("v")).select("k").as[String].collect().toSeq == Seq("b", "c"))
  }

  test("summarize groups and names aggregates") {
    val out = Seq(("x", 1), ("x", 2), ("y", 5)).toDF("k", "v")
      .summarize(Seq("total" -> sum(col("v")), "n" -> count(lit(1))), col("k"))
    assert(out.columns.toSeq == Seq("k", "total", "n"))
    assert(out.filter(col("k") === "x").head().getLong(1) == 3L)
  }

  test("summarize with no keys is a global aggregate") {
    val out = df.summarize(Seq("mx" -> max(col("v"))))
    assert(out.head().getInt(0) == 3)
  }

  test("kqlCount counts rows into `Count`") {
    assert(df.kqlCount.columns.toSeq == Seq("Count"))
    assert(df.kqlCount.head().getLong(0) == 3L)
  }

  test("project + where + extend compose") {
    val out = df.kqlWhere(col("v") > 1).extend("v2", col("v") * 2).project(col("k"), col("v2"))
    assert(out.columns.toSeq == Seq("k", "v2"))
    assert(out.count() == 2)
  }

  test("mv-expand explodes arrays; project-away drops columns") {
    val out = Seq(("a", Seq(1, 2, 3))).toDF("k", "xs").mvExpand("xs")
    assert(out.count() == 3)
    assert(df.projectAway("v").columns.toSeq == Seq("k"))
  }

  test("mv-expand bagexpansion: bag/array modes, key order, non-object drop, loud rejects") {
    val src = Seq(
      ("r1", """{"b":1,"a":"x"}"""),   // keys deliberately NOT sorted
      ("r2", """[1,2]"""),             // non-object: row drops
      ("r3", """{"only":null}""")
    ).toDF("id", "j")
    val tables = Map("T" -> src)
    // bag mode: one row per property, single-entry bags, CANONICAL
    // sorted-key order (the VARIANT encoding's field order — insertion
    // order is not preserved by bags anywhere in this engine), exposed
    // by with_itemindex: a before b despite the source JSON's b-first
    val bag = KqlParser.run(
      "T | extend d = parse_json(j) " +
        "| mv-expand with_itemindex=ix bagexpansion=bag kv = d " +
        "| project id, ix, s = tostring(kv) | sort by id asc, ix asc", tables)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(bag == Seq(("r1", 0, """{"a":"x"}"""), ("r1", 1, """{"b":1}"""),
      ("r3", 0, """{"only":null}""")))
    // array mode: ["k", v] pairs, subscriptable
    val arr = KqlParser.run(
      "T | extend d = parse_json(j) " +
        "| mv-expand bagexpansion=array kv = d " +
        "| project id, k = tostring(kv[0]), v = tostring(kv[1]) " +
        "| sort by id asc, k asc", tables)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(arr.map(t => (t._1, t._2)) == Seq(("r1", "a"), ("r1", "b"), ("r3", "only")))
    assert(arr.find(_._2 == "b").get._3 == "1")
    // loud rejects: typeof suffix, multiple items, unnamed expression
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend d = parse_json(j) | mv-expand bagexpansion=bag kv = d to typeof(string)", tables))
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend d = parse_json(j) | mv-expand bagexpansion=bag d, d", tables))
  }

  test("bag_remove_keys / bag_set_key conventions") {
    val src = Seq(("""{"a":1,"b":2,"c":3}"""), ("""[1,2]""")).toDF("j")
    val tables = Map("T" -> src)
    def col0(q: String): Seq[Any] =
      KqlParser.run(q, tables).collect().map(r => r.get(0)).toSeq
    // survivors render in canonical sorted-key order; non-object ->
    // null (KQL asc sorts nulls first)
    assert(col0("T | project r = tostring(bag_remove_keys(parse_json(j), pack_array('b'))) | sort by r asc") ==
      Seq(null, """{"a":1,"c":3}"""))
    // removing every key yields the empty bag, not null
    assert(col0("T | where j startswith '{' | project r = tostring(bag_remove_keys(parse_json(j), pack_array('a','b','c')))") ==
      Seq("{}"))
    // unknown keys are no-ops; null key list -> null
    assert(col0("T | where j startswith '{' | project r = tostring(bag_remove_keys(parse_json(j), pack_array('zz')))") ==
      Seq("""{"a":1,"b":2,"c":3}"""))
    // set: existing key replaced IN PLACE, new key appends, value
    // types carry through (string / array / null)
    assert(col0("T | where j startswith '{' | project r = tostring(bag_set_key(parse_json(j), 'b', 'str'))") ==
      Seq("""{"a":1,"b":"str","c":3}"""))
    assert(col0("T | where j startswith '{' | project r = tostring(bag_set_key(parse_json(j), 'z', pack_array(1, 2)))") ==
      Seq("""{"a":1,"b":2,"c":3,"z":[1,2]}"""))
    // JSON-path key rejected loudly (top-level only, bag_has_key's rule)
    intercept[IllegalArgumentException](KqlParser.run(
      "T | project r = bag_set_key(parse_json(j), '$.a.b', 1)", tables))
  }

  test("series_fit_poly: exact quadratic recovery, degree default, loud rejects") {
    val tables = Map("T" -> Seq(1).toDF("x"))
    // (0..3, (x+1)^2): every sum/determinant is an exact small integer,
    // so the Cramer chain recovers a2=1, a1=2, a0=1 bit-exactly
    val r = KqlParser.run(
      "T | extend s = pack_array(1.0, 4.0, 9.0, 16.0) " +
        "| extend f = series_fit_poly_dynamic(s, 2) " +
        "| project cs = f.coefficients, rsq = f.rsquare, rv = f.rvariance, fit = f.poly_fit",
      tables).head()
    assert(r.getSeq[Double](0) == Seq(1.0, 2.0, 1.0))     // highest first
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 0.0)
    assert(r.getSeq[Double](3) == Seq(1.0, 4.0, 9.0, 16.0))
    // degree 1 (the default) agrees with series_fit_line on an exact line
    val l = KqlParser.run(
      "T | extend s = pack_array(3.0, 5.0, 7.0, 9.0) " +
        "| extend f = series_fit_poly_dynamic(s) " +
        "| project cs = f.coefficients, fit = f.poly_fit, lf = series_fit_line(s)",
      tables).head()
    assert(l.getSeq[Double](0) == Seq(2.0, 3.0))          // slope, intercept
    assert(l.getSeq[Double](1) == l.getSeq[Double](2))
    // series shorter than degree+1 -> null (singular normal matrix)
    val n = KqlParser.run(
      "T | extend f = series_fit_poly_dynamic(pack_array(1.0, 2.0), 2) | project f",
      tables).head()
    assert(n.isNullAt(0))
    // the non-dynamic form returns the fitted array directly
    val p = KqlParser.run(
      "T | extend f = series_fit_poly(pack_array(1.0, 4.0, 9.0, 16.0), 2) | project f",
      tables).head()
    assert(p.getSeq[Double](0) == Seq(1.0, 4.0, 9.0, 16.0))
    // loud rejects: degree out of range, non-literal degree (ADX's
    // custom-x 2nd argument)
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend f = series_fit_poly_dynamic(pack_array(1.0, 2.0), 0) | project f", tables))
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend f = series_fit_poly_dynamic(pack_array(1.0, 2.0), 4) | project f", tables))
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend f = series_fit_poly_dynamic(pack_array(1.0, 2.0), pack_array(0.0, 1.0)) | project f", tables))
  }

  test("evaluate preview: deterministic top-N sample + folded total count") {
    val reg = Map("T" -> Seq((3L, "c"), (1L, "a"), (2L, "b"), (4L, "d")).toDF("id", "v"))
    val out = KqlParser.run("T | evaluate preview(2) | sort by id asc", reg).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a", 4L), (2L, "b", 4L)))
    // N larger than the table: all rows, count intact
    assert(KqlParser.run("T | evaluate preview(99)", reg).count() == 4)
    // loud rejects: non-literal N, non-positive N, column collision
    intercept[IllegalArgumentException](KqlParser.run("T | evaluate preview(id)", reg))
    intercept[IllegalArgumentException](KqlParser.run("T | evaluate preview(0)", reg))
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend preview_total = 1 | evaluate preview(2)", reg))
  }

  test("series_fft / series_ifft: known vectors, roundtrip, loud rejects") {
    val tables = Map("T" -> Seq(1).toDF("x"))
    // constant series: X_0 = n*c, all other coefficients 0
    val const = KqlParser.run(
      "T | extend f = series_fft(pack_array(3.0, 3.0, 3.0, 3.0)) " +
        "| project re = f.re, im = f.im", tables).head()
    val re = const.getSeq[Double](0); val im = const.getSeq[Double](1)
    assert(re.head == 12.0 && re.tail.forall(v => math.abs(v) < 1e-12))
    assert(im.forall(v => math.abs(v) < 1e-12))
    // alternating series of period 2: all energy at k = n/2
    val alt = KqlParser.run(
      "T | extend f = series_fft(pack_array(1.0, -1.0, 1.0, -1.0)) " +
        "| project re = f.re", tables).head().getSeq[Double](0)
    assert(math.abs(alt(2) - 4.0) < 1e-12 &&
      Seq(0, 1, 3).forall(k => math.abs(alt(k)) < 1e-12))
    // ifft(fft(x)) recovers x to float error; the imaginary part of a
    // real series' roundtrip vanishes
    val rt = KqlParser.run(
      "T | extend s = pack_array(5.0, 1.0, 4.0, 1.0, 3.0, 9.0) " +
        "| extend f = series_fft(s) | extend b = series_ifft(f.re, f.im) " +
        "| project bre = b.re, bim = b.im", tables).head()
    val src = Seq(5.0, 1.0, 4.0, 1.0, 3.0, 9.0)
    val bre = rt.getSeq[Double](0)
    val bim = rt.getSeq[Double](1)
    src.indices.foreach { j =>
      assert(math.abs(bre(j) - src(j)) < 1e-9, s"roundtrip drift at $j")
      assert(math.abs(bim(j)) < 1e-9, s"imaginary residue at $j")
    }
    // Parseval: sum |X_k|^2 = n * sum x_j^2
    val pv = KqlParser.run(
      "T | extend s = pack_array(5.0, 1.0, 4.0, 1.0, 3.0, 9.0) " +
        "| extend f = series_fft(s) " +
        "| project lhs = series_sum(series_add(series_multiply(f.re, f.re), series_multiply(f.im, f.im))), " +
        "rhs = series_sum(series_multiply(s, s))", tables).head()
    assert(math.abs(pv.getDouble(0) - 6.0 * pv.getDouble(1)) < 1e-9)
    // loud rejects: complex input, wrong ifft arity
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend f = series_fft(pack_array(1.0), pack_array(0.0)) | project f", tables))
    intercept[IllegalArgumentException](KqlParser.run(
      "T | extend f = series_ifft(pack_array(1.0)) | project f", tables))
  }

  test("parse extracts regex groups") {
    val out = Seq("id=42;x").toDF("s")
      .parseExtract("id", col("s"), "id=(\\d+)")
    assert(out.select("id").as[String].head() == "42")
  }

  test("bin buckets to the left edge; countif/dcount/arg_max vocabulary") {
    val d = Seq(("a", 7, 1), ("a", 12, 2), ("b", 23, 3)).toDF("k", "v", "id")
    val binned = d.summarize(Seq("n" -> count(lit(1))), Kql.bin(col("v"), lit(10)).as("bucket"))
    assert(binned.filter(col("bucket") === 0.0).head().getLong(1) == 1L)
    val agg = d.summarize(Seq(
      "nk" -> Kql.dcount(col("k")),
      "big" -> Kql.countif(col("v") >= 10),
      "top_id" -> Kql.argMax(col("v"), col("id"))))
    assert(agg.head() == org.apache.spark.sql.Row(2L, 2L, 3))
  }

  test("null ordering is pinned: desc sorts nulls last, asc nulls first") {
    val d = Seq(Some(1), None, Some(3)).toDF("v")
    assert(d.kqlSort(col("v")).as[Option[Int]].collect().toSeq ==
      Seq(Some(3), Some(1), None))
    assert(d.kqlSortAsc(col("v")).as[Option[Int]].collect().toSeq ==
      Seq(None, Some(1), Some(3)))
  }

  test("binTime buckets timestamps to the duration's left edge (timechart)") {
    val d = Seq("2024-01-01 10:17:30", "2024-01-01 10:44:59", "2024-01-01 11:02:00")
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    val binned = d.summarize(Seq("n" -> count(lit(1))),
      Kql.binTime(col("ts"), 3600).as("hour"))
    val byHour = binned.collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(byHour("2024-01-01 10:00:00.0") == 2L && byHour("2024-01-01 11:00:00.0") == 1L)
  }

  test("render tags the chart kind without touching the frame (K4-K6)") {
    val r = df.summarize(Seq("n" -> count(lit(1))), col("k")).render("columnchart")
    assert(r.chartKind == "columnchart" && r.df.count() == 3)
  }

  test("the three reference queries express in the dialect (README.md:363-392)") {
    val orders = Seq((1, "Seattle", 120), (2, "Seattle", 80), (3, "Austin", 100))
      .toDF("orderid", "city", "amount")
    val a1 = orders.summarize(Seq("avg_sales" -> avg(col("amount"))), col("city"))
    val a2 = orders.summarize(Seq("total" -> sum(col("amount"))), col("city")).kqlSort(col("total"))
    val a3 = orders.summarize(Seq("orders" -> count(lit(1))), col("city")).kqlSort(col("orders"))
    assert(a1.filter(col("city") === "Seattle").head().getDouble(1) == 100.0)
    assert(a2.head().getString(0) == "Seattle" && a2.head().getLong(1) == 200L)
    assert(a3.head().getString(0) == "Seattle" && a3.head().getLong(1) == 2L)
  }

  // ---- text front-end (KqlParser) ----------------------------------------

  private def ordersReg = Map("Orders" ->
    Seq((1, "Seattle", 120), (2, "Seattle", 80), (3, "Austin", 100))
      .toDF("orderid", "city", "amount"))

  test("parser runs the three README queries verbatim, matching the builder") {
    import graft.ops.ReferenceQueries
    val p1 = KqlParser.parse(ReferenceQueries.kqlAvgText, ordersReg)
    assert(p1.render.contains("columnchart"))
    assert(p1.df.columns.toSeq == Seq("city", "avg_sales"))
    assert(p1.df.filter(col("city") === "Seattle").head().getDouble(1) == 100.0)

    val p2 = KqlParser.parse(ReferenceQueries.kqlTotalText, ordersReg)
    assert(p2.render.contains("piechart"))
    assert(p2.df.head().getString(0) == "Seattle" && p2.df.head().getLong(1) == 200L)

    val p3 = KqlParser.parse(ReferenceQueries.kqlCountText, ordersReg)
    assert(p3.render.contains("linechart"))
    assert(p3.df.head().getString(0) == "Seattle" && p3.df.head().getLong(1) == 2L)
  }

  test("parser: where/project/extend/top/take/distinct/count verbs") {
    val reg = ordersReg
    assert(KqlParser.run("Orders | where amount >= 100 | count", reg)
      .head().getLong(0) == 2L)
    assert(KqlParser.run("Orders | where city == \"Seattle\" | count", reg)
      .head().getLong(0) == 2L)
    val proj = KqlParser.run(
      "Orders | extend half = amount / 2 | project orderid, half | top 1 by half", reg)
    assert(proj.columns.toSeq == Seq("orderid", "half"))
    assert(proj.head().getInt(0) == 1)
    assert(KqlParser.run("Orders | distinct city | count", reg).head().getLong(0) == 2L)
    assert(KqlParser.run("Orders | take 2", reg).count() == 2L)
    assert(KqlParser.run("Orders | project-away amount | count", reg).head().getLong(0) == 3L)
  }

  test("parser: KQL operator spellings translate (==, !=, =~, contains, startswith)") {
    val reg = ordersReg
    assert(KqlParser.run("Orders | where city != \"Austin\" | count", reg)
      .head().getLong(0) == 2L)
    assert(KqlParser.run("Orders | where city =~ \"seattle\" | count", reg)
      .head().getLong(0) == 2L)
    assert(KqlParser.run("Orders | where city contains \"EAT\" | count", reg)
      .head().getLong(0) == 2L)
    assert(KqlParser.run("Orders | where city startswith \"au\" | count", reg)
      .head().getLong(0) == 1L)
    assert(KqlParser.run(
      "Orders | where city == \"Seattle\" and amount > 100 | count", reg)
      .head().getLong(0) == 1L)
  }

  test("parser: summarize default names, dcount/countif/arg_max, sort asc escape") {
    val reg = ordersReg
    val s = KqlParser.run("Orders | summarize avg(amount), dcount(city) by city", reg)
    assert(s.columns.toSeq == Seq("city", "avg_amount", "dcount_city"))
    val g = KqlParser.run(
      "Orders | summarize n = countif(amount > 90), top_order = arg_max(amount, orderid)", reg)
    assert(g.head() == org.apache.spark.sql.Row(2L, 1))
    val asc = KqlParser.run("Orders | sort by amount asc | project orderid", reg)
    assert(asc.head().getInt(0) == 2)
  }

  test("parser rejects unknown tables and verbs loudly") {
    intercept[IllegalArgumentException] { KqlParser.run("Nope | count", ordersReg) }
    intercept[IllegalArgumentException] { KqlParser.run("Orders | frobnicate x", ordersReg) }
  }

  private def joinReg = ordersReg + ("Customers" ->
    Seq((1, "alice"), (2, "bob")).toDF("orderid", "name"))

  test("parser: join renames clashing right columns with KQL's 1-suffix") {
    val out = KqlParser.run(
      "Orders | join kind=inner (Customers) on orderid | sort by orderid asc", joinReg)
    assert(out.columns.toSeq == Seq("orderid", "city", "amount", "orderid1", "name"))
    assert(out.count() == 2)
    assert(out.head().getString(4) == "alice")
  }

  test("parser: join kinds leftouter and leftanti; $left/$right key form") {
    val lo = KqlParser.run(
      "Orders | join kind=leftouter (Customers) on $left.orderid == $right.orderid", joinReg)
    assert(lo.count() == 3) // order 3 survives with null name
    assert(lo.filter(col("orderid") === 3).head().isNullAt(4))
    val anti = KqlParser.run(
      "Orders | join kind=leftanti (Customers) on orderid", joinReg)
    assert(anti.select("orderid").as[Int].collect().toSeq == Seq(3))
    assert(anti.columns.toSeq == Seq("orderid", "city", "amount")) // left-only shape
  }

  test("parser: bare join is innerunique (left deduped by key), like ADX") {
    // two left rows share city Seattle; innerunique keeps one of them
    val reg = Map(
      "L" -> Seq((1, "Seattle"), (2, "Seattle"), (3, "Austin")).toDF("id", "city"),
      "R" -> Seq(("Seattle", "west")).toDF("city", "region"))
    val bare = KqlParser.run("L | join (R) on city", reg)
    assert(bare.count() == 1) // one Seattle row survives the left dedup
    assert(bare.select("region").as[String].head() == "west")
    val inner = KqlParser.run("L | join kind=inner (R) on city", reg)
    assert(inner.count() == 2) // true inner keeps both Seattle rows
  }

  test("parser: join right side can be a sub-query pipeline") {
    val out = KqlParser.run(
      "Orders | join kind=inner (Orders | summarize n = count() by city | where n > 1) on city",
      joinReg)
    assert(out.select("orderid").as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(out.columns.contains("city1") && out.columns.contains("n"))
  }

  test("parser: scalar let substitutes; tabular let binds a named sub-query") {
    val out = KqlParser.run(
      """let minAmount = 90;
        |let seattle = Orders | where city == "Seattle";
        |seattle | where amount >= minAmount""".stripMargin, ordersReg)
    assert(out.select("orderid").as[Int].collect().toSeq == Seq(1))
    // scalar let referencing an earlier let
    val out2 = KqlParser.run(
      """let base = 50;
        |let minAmount = base + 40;
        |Orders | where amount >= minAmount | sort by amount asc""".stripMargin, ordersReg)
    assert(out2.select("orderid").as[Int].collect().toSeq == Seq(3, 1))
  }

  test("parser: mv-expand explodes an array column; unaliased expressions rejected loudly") {
    val reg = Map("T" -> Seq(("a", Seq(1, 2, 3)), ("b", Seq(4))).toDF("k", "xs"))
    val out = KqlParser.run("T | mv-expand xs | summarize n = count() by k", reg)
    assert(out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 3L, "b" -> 1L))
    // an expression (not a bare column) must be aliased — no guessed names
    intercept[IllegalArgumentException] {
      KqlParser.run("T | mv-expand array(1, 2)", reg)
    }
  }

  test("parser: mv-expand `to typeof` casts elements; failures null out (ADX)") {
    val reg = Map("T" -> Seq(("a", Seq("1", "2", "oops"))).toDF("k", "xs"))
    val out = KqlParser.run("T | mv-expand xs to typeof(long)", reg)
    assert(out.schema("xs").dataType == org.apache.spark.sql.types.LongType)
    assert(out.select("xs").as[Option[Long]].collect().toSeq ==
      Seq(Some(1L), Some(2L), None))
  }

  test("parser: mv-expand a, b expands in LOCKSTEP with null-fill (not a cross product)") {
    // ragged lengths: null-fill to the max; a NULL array behaves as
    // empty (nulls on every emitted row) but does NOT drop the row
    // when a sibling array still has elements; all-empty rows vanish.
    val reg = Map("T" -> Seq(
      ("r1", Seq(1, 2), Seq(10, 20, 30)),   // ys longer: x null-fills
      ("r2", null, Seq(7)),                 // null xs: x null, row kept
      ("r3", Seq.empty[Int], Seq.empty[Int]) // all empty: row drops
    ).toDF("k", "xs", "ys"))
    val out = KqlParser.run(
      "T | mv-expand with_itemindex=ix x = xs, y = ys", reg)
    val rows = out.select("k", "ix", "x", "y").collect()
      .map(r => (r.getString(0), r.getInt(1),
        Option(r.get(2)), Option(r.get(3)))).sortBy(t => (t._1, t._2)).toSeq
    assert(rows == Seq(
      ("r1", 0, Some(1), Some(10)),
      ("r1", 1, Some(2), Some(20)),
      ("r1", 2, None, Some(30)),
      ("r2", 0, None, Some(7))))
    // 4 rows total: lockstep, NOT the 2*3 + 1 a cross product would emit
    assert(out.count() == 4)
    // duplicate target names rejected loudly
    intercept[IllegalArgumentException] {
      KqlParser.run("T | mv-expand x = xs, x = ys", reg)
    }
  }

  test("parser: timespan/datetime/binary scalar tier edge semantics") {
    def one(e: String) =
      KqlParser.run(s"T | project r = $e", Map("T" -> Seq(1).toDF("x"))).head()
    // timespan values are BIGINT seconds (documented deviation)
    assert(one("totimespan('1.02:03:04')").getLong(0) == 93784L)
    assert(one("totimespan(90m)").getLong(0) == 5400L)
    assert(one("make_timespan(2, 3, 4)").getLong(0) == 7384L)
    // negative span renders null, not garbage
    assert(one("format_timespan(0 - 5, 'hh:mm:ss')").isNullAt(0))
    assert(one("format_timespan(90061, 'd.hh:mm:ss')").getString(0) == "1.01:01:01")
    // loud rejections: fractional/non-literal spans, unknown formats/parts
    intercept[IllegalArgumentException] { one("totimespan('01:02:03.5')") }
    intercept[IllegalArgumentException] { one("totimespan(x)") }
    intercept[IllegalArgumentException] { one("format_timespan(1, 'mm:ss')") }
    intercept[IllegalArgumentException] { one("datetime_part('fortnight', datetime(2024-01-01))") }
    assert(one("binary_shift_left(1, 62)").getLong(0) == (1L << 62))
    assert(one("binary_not(binary_not(7))").getLong(0) == 7L)
  }

  test("parser: externaldata reads declared-schema files; unsupported formats reject loudly") {
    val dir = java.nio.file.Files.createTempDirectory("kql-ext")
    val csv = dir.resolve("d.csv")
    java.nio.file.Files.writeString(csv, "name,n\na,1\nb,2\n")
    val tsv = dir.resolve("d.tsv")
    java.nio.file.Files.writeString(tsv, "a\t10\nb\t20\n")
    val out = KqlParser.run(
      s"""externaldata(name:string, n:long)["$csv"]
         |  with (format="csv", ignoreFirstRecord=true)
         || where n >= 2""".stripMargin, Map.empty)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("b", 2L)))
    // tsv, no header, and usable as a tabular let + join operand
    val joined = KqlParser.run(
      s"""let dim = externaldata(name:string, v:long)["$tsv"] with (format="tsv");
         |datatable(name:string, k:long)["a", 7, "b", 8]
         || join kind=inner (dim) on name | project name, k, v""".stripMargin,
      Map.empty)
    assert(joined.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq == Seq(("a", 7L, 10L), ("b", 8L, 20L)))
    // declared schema, never inferred: a bad cell nulls (csv permissive mode)
    intercept[IllegalArgumentException] {
      KqlParser.run(s"""externaldata(name:string)["$csv"] with (format="parquet")""",
        Map.empty)
    }
    intercept[IllegalArgumentException] {
      KqlParser.run(s"""externaldata(name:string)["$csv"] with (compression="gz")""",
        Map.empty)
    }
    intercept[IllegalArgumentException] {
      KqlParser.run("""externaldata(name:string)[h@"https://x/blob;sas"]""", Map.empty)
    }
  }

  test("parser: mv-expand aliased struct-path expression") {
    val reg = Map("T" -> Seq(("a", Seq(1, 2)), ("b", Seq(3)))
      .toDF("k", "xs").selectExpr("k", "named_struct('vals', xs) as s"))
    val out = KqlParser.run(
      "T | mv-expand v = s.vals to typeof(long) | summarize total = sum(v) by k", reg)
    assert(out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 3L, "b" -> 3L))
  }

  test("parser: datatable literal as source, tabular let, and join right side") {
    val direct = KqlParser.run(
      """datatable(name:string, n:long)["a", 1, "b", 2, "c", 3] | where n >= 2""",
      Map.empty)
    assert(direct.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("b", 2L), ("c", 3L)))
    val joined = KqlParser.run(
      """let city_region = datatable(city:string, region:string)
        |  ["Seattle", "west", "Austin", "south"];
        |Orders | join kind=inner (city_region) on city | summarize total = sum(amount) by region
        |""".stripMargin, ordersReg)
    assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("south", 100L), ("west", 200L)))
    intercept[IllegalArgumentException] {
      KqlParser.run("""datatable(x:dynamic)["a"] | count""", Map.empty)
    }
  }

  test("parser: parse verb extracts pattern slots; * skips; last slot greedy") {
    val reg = Map("Logs" -> Seq(
      "user=alice action=login ip=10.0.0.1",
      "user=bob action=buy cart=3 ip=10.0.0.2").toDF("msg"))
    val out = KqlParser.run(
      """Logs | parse msg with "user=" user " action=" action " " * "ip=" ip""", reg)
    assert(out.columns.toSeq == Seq("msg", "user", "action", "ip"))
    val rows = out.select("user", "action", "ip").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(rows == Seq(("alice", "login", "10.0.0.1"), ("bob", "buy", "10.0.0.2")))
  }

  test("parser: parse typed slots cast captures; no-match and bad values null out") {
    val reg = Map("Logs" -> Seq(
      "n=42 ok", "n=oops ok", "malformed line").toDF("msg"))
    val out = KqlParser.run("""Logs | parse msg with "n=" n:long " " rest""", reg)
    assert(out.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(out.select("n").as[Option[Long]].collect().toSeq ==
      Seq(Some(42L), None, None))
  }

  test("parser: parse kind=regex treats literals as raw regex fragments") {
    val reg = Map("Logs" -> Seq(
      "id:7  code=A12", "id:30 code=B9").toDF("msg"))
    // \d guard + \s+ flexible whitespace would be impossible in simple
    // mode (Pattern.quote would match them verbatim)
    val out = KqlParser.run(
      """Logs | parse kind=regex msg with 'id:' id:int '\s+code=' code""", reg)
    assert(out.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.select("id", "code").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq ==
      Seq((7, "A12"), (30, "B9")))
    intercept[IllegalArgumentException] {
      KqlParser.run("Logs | parse kind=nope msg with 'x' y", reg)
    }
  }

  test("parser: datatable datetime cells (wrapper + quoted forms, date-only = midnight)") {
    val out = KqlParser.run(
      """datatable(ev:string, at:datetime)[
        |  "a", datetime(2024-03-01 10:30:00),
        |  "b", "2024-03-01T12:00:00Z",
        |  "c", datetime(2024-03-02)]
        || where at >= datetime(2024-03-01 11:00:00)
        || summarize n = count()""".stripMargin.replace("\n", " "), Map.empty)
    assert(out.collect().head.getLong(0) == 2L)
    val sch = KqlParser.run(
      """datatable(at:datetime)[datetime(2024-01-01)]""", Map.empty)
    assert(sch.schema("at").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("parser: datatable dynamic cells explode via mv-expand; heterogeneity rejected") {
    val out = KqlParser.run(
      """datatable(k:string, xs:dynamic)["a", dynamic([1, 2, 3]), "b", dynamic([4])]
        || mv-expand xs
        || summarize n = count(), total = sum(xs) by k""".stripMargin.replace("\n", " "),
      Map.empty)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      Seq(("a", 3L, 6L), ("b", 1L, 4L)))
    // long+real promotes to double; a string+long mix is not a typed
    // array — it rides the VARIANT route like object cells
    val promo = KqlParser.run(
      """datatable(xs:dynamic)[dynamic([1, 2.5])] | mv-expand xs""", Map.empty)
    assert(promo.schema("xs").dataType == org.apache.spark.sql.types.DoubleType)
    val hetero = KqlParser.run(
      """datatable(xs:dynamic)[dynamic([1, "a"])]""", Map.empty)
    assert(hetero.schema("xs").dataType == org.apache.spark.sql.types.VariantType)
  }

  test("parser: extract/extract_all/split/isempty ADX string functions") {
    val reg = Map("T" -> Seq(
      ("id=42 n=7", "a.b.c", "x"), ("id=9 n=13", "q.r", ""), ("no match", "z", null))
      .toDF("s", "dotted", "e"))
    // extract: ADX (regex, group, source) arg order; no match → null→0 via tolong+coalesce
    val ids = KqlParser.run(
      "T | extend v = tolong(extract('id=([0-9]+)', 1, s)) | project v", reg)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(ids == Seq(42L, 9L, -1L))
    // extract_all: every capture-group match
    val all = KqlParser.run(
      "T | extend a = extract_all('([0-9]+)', s) | extend joined = array_join(a, ',') | project joined",
      reg).collect().map(_.getString(0)).toSeq
    assert(all == Seq("42,7", "9,13", ""))
    // split: the delimiter is LITERAL — '.' must not act as regex-any
    val parts = KqlParser.run(
      "T | extend p = split(dotted, '.') | extend n = array_size(p) | project n", reg)
      .collect().map(_.getInt(0)).toSeq
    assert(parts == Seq(3, 2, 1))
    // isempty/isnotempty: '' and null both count as empty (ADX)
    assert(KqlParser.run("T | where isempty(e) | count", reg)
      .collect().head.getLong(0) == 2L)
    assert(KqlParser.run("T | where isnotempty(e) | count", reg)
      .collect().head.getLong(0) == 1L)
  }

  test("parser: dynamic object cells are VARIANT with dotted property access") {
    val q =
      """datatable(k:string, d:dynamic)[
        |  "a", dynamic({"city": "Austin", "n": 3, "geo": {"lat": 30.27}}),
        |  "b", dynamic({"city": "Seattle", "n": 7, "geo": {"lat": 47.61}})]
        || where tostring(d.city) != 'nowhere'
        || extend city = tostring(d.city), n = tolong(d.n), lat = todouble(d.geo.lat)
        || project k, city, n, lat""".stripMargin.replace("\n", " ")
    val out = KqlParser.run(q, Map.empty).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(out == Set(("a", "Austin", 3L, 30.27), ("b", "Seattle", 7L, 47.61)))
    // the raw column is VariantType; a missing property is null (ADX)
    val frame = KqlParser.run(
      """datatable(d:dynamic)[dynamic({"a": 1})] | extend miss = tostring(d.zzz)""",
      Map.empty)
    assert(frame.schema("d").dataType == org.apache.spark.sql.types.VariantType)
    assert(frame.collect().head.isNullAt(frame.columns.indexOf("miss")))
    // todynamic() parses a JSON string column into VARIANT
    val parsed = KqlParser.run(
      """datatable(s:string)['{"x": 42}'] | extend d = todynamic(s) | extend x = tolong(d.x) | project x""",
      Map.empty).collect().head.getLong(0)
    assert(parsed == 42L)
    // an array cell sharing the column with objects rides along as VARIANT
    val mixed = KqlParser.run(
      """datatable(d:dynamic)[dynamic({"a": 1}), dynamic([1, 2])] | count""",
      Map.empty).collect().head.getLong(0)
    assert(mixed == 2L)
    // variant dotted paths resolve directly in summarize aggregates,
    // group keys and sort keys too (r9 ADVICE: previously only
    // where/extend/project rewrote them)
    val dt = """datatable(d:dynamic)[
      |  dynamic({"g": "x", "n": 1}), dynamic({"g": "x", "n": 2}),
      |  dynamic({"g": "y", "n": 10})]""".stripMargin.replace("\n", " ")
    val agg = KqlParser.run(
      s"$dt | summarize s = sum(tolong(d.n)) by g = tostring(d.g) | sort by s asc",
      Map.empty).collect().map(r => (r.getString(r.fieldIndex("g")),
        r.getLong(r.fieldIndex("s")))).toSeq
    assert(agg == Seq(("x", 3L), ("y", 10L)))
    val sorted = KqlParser.run(s"$dt | sort by tolong(d.n) desc | extend v = tolong(d.n) | project v",
      Map.empty).collect().map(_.getLong(0)).toSeq
    assert(sorted == Seq(10L, 2L, 1L))
  }

  test("parser: a column shadows a same-named let binding (ADX resolution order)") {
    // `amount` is both a column and a let name: the column must win in
    // expressions, while the let stays usable where no column collides
    val out = KqlParser.run(
      """let amount = 999999;
        |let floor_ = 90;
        |Orders | where amount >= floor_ | sort by amount asc""".stripMargin, ordersReg)
    // column semantics: orders with amount >= 90 are ids 3 (100) and 1 (120)
    assert(out.select("orderid").as[Int].collect().toSeq == Seq(3, 1))
  }

  test("parser: rebinding a let name sees the EARLIER binding (sequential semantics)") {
    // `let x = 50; let x = x + 40;` — ADX binds the inner x to the
    // earlier 50, so the final threshold is 90 (not an unresolved
    // column error, not a cycle)
    val out = KqlParser.run(
      """let minAmount = 50;
        |let minAmount = minAmount + 40;
        |Orders | where amount >= minAmount | sort by amount asc""".stripMargin, ordersReg)
    assert(out.select("orderid").as[Int].collect().toSeq == Seq(3, 1))
    // a let whose body mentions a name bound INSIDE a string literal is
    // untouched by the substitution
    val out2 = KqlParser.run(
      """let c = "Seattle";
        |let c = c;
        |Orders | where city == c | count""".stripMargin, ordersReg)
    assert(out2.as[Long].collect().toSeq == Seq(2L))
  }

  test("parser: datatable rejects a mismatched or unterminated string cell") {
    intercept[IllegalArgumentException] {
      KqlParser.run("""datatable(x:string)["abc] | count""", Map.empty)
    }
    intercept[IllegalArgumentException] {
      // opening " closed by ' must not silently truncate
      KqlParser.run("""datatable(x:string)["abc'] | count""", Map.empty)
    }
  }

  test("parser: let errors are loud (non-let prelude, malformed binding)") {
    intercept[IllegalArgumentException] {
      KqlParser.run("Orders | count; Orders | count", ordersReg)
    }
    intercept[IllegalArgumentException] {
      KqlParser.run("let = 3; Orders | count", ordersReg)
    }
  }

  test("parser: bin() is floor-to-multiple with a nameable group key, not Spark's binary-string bin") {
    val reg = Map("T" -> Seq(95L, 100L, 105L, 200L, 219L).toDF("x"))
    val out = KqlParser.run(
      "T | summarize n = count() by b = bin(x, 100) | sort by b asc", reg)
    assert(out.columns.toSeq == Seq("b", "n"))
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(0L -> 1L, 100L -> 2L, 200L -> 2L))
    // bin args recurse through scalar(): a let-bound size substitutes
    val out2 = KqlParser.run(
      "let sz = 100;\nT | summarize n = count() by b = bin(x + 1, sz)", reg)
    assert(out2.collect().map(r => r.getLong(0)).sorted.toSeq == Seq(0L, 100L, 200L))
  }

  test("parser: bin() stays integer-exact past 2^53 and floors negatives") {
    // 2^60 + 7 is unrepresentable in double arithmetic: floor(v/s)*s
    // through doubles would bucket it wrong; integer floor-mod is exact
    val big = (1L << 60) + 7L
    val reg = Map("T" -> Seq(big, -7L).toDF("x"))
    val out = KqlParser.run("T | summarize n = count() by b = bin(x, 2)", reg)
    assert(out.select("b").as[Long].collect().sorted.toSeq ==
      Seq(-8L, (1L << 60) + 6L))
    // a zero/negative literal size is rejected at translation time
    intercept[IllegalArgumentException] {
      KqlParser.run("T | summarize n = count() by b = bin(x, 0)", reg)
    }
    // ...and a non-literal size that evaluates non-positive raises at
    // runtime rather than emitting wrong buckets silently
    val bad = KqlParser.run("T | extend b = bin(x, x - x)", reg)
    val e = intercept[Throwable] { bad.collect() }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    assert(msgs(e).contains("bin() size must be positive"))
  }

  test("parser: `by x =~ 'lit'` group key parses as case-insensitive equality, not a named key") {
    val reg = Map("T" -> Seq("Seattle", "seattle", "Austin").toDF("city"))
    val out = KqlParser.run("T | summarize n = count() by city =~ 'SEATTLE'", reg)
    val m = out.collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(m == Map(true -> 2L, false -> 1L))
  }

  test("parser: lookup enriches without duplicating the key; leftouter nulls unmatched") {
    val reg = ordersReg + ("Dims" ->
      Seq(("Seattle", "WEST")).toDF("city", "region"))
    val out = KqlParser.run("Orders | lookup (Dims) on city", reg)
    assert(out.columns.toSeq == Seq("orderid", "city", "amount", "region"))
    assert(out.filter(col("city") === "Seattle")
      .select("region").distinct().head().getString(0) == "WEST")
    assert(out.filter(col("city") === "Austin").head().isNullAt(3))
    // kind=inner drops the unmatched fact rows instead
    assert(KqlParser.run("Orders | lookup kind=inner (Dims) on city | count", reg)
      .head().getLong(0) == 2L)
  }

  test("parser: lookup rejects a dimension that redefines a non-key column") {
    val reg = ordersReg + ("Dims" ->
      Seq(("Seattle", 1)).toDF("city", "amount"))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("Orders | lookup (Dims) on city", reg)
    }
    assert(e.getMessage.contains("amount"))
  }

  test("parser: union kind=outer null-fills, kind=inner intersects columns") {
    val reg = ordersReg + ("Extra" ->
      Seq((9, "Denver", true)).toDF("orderid", "city", "rush"))
    val outer = KqlParser.run("Orders | union Extra", reg)
    assert(outer.columns.toSeq == Seq("orderid", "city", "amount", "rush"))
    assert(outer.count() == 4L)
    assert(outer.filter(col("orderid") === 1).head().isNullAt(3))  // no rush col
    assert(outer.filter(col("orderid") === 9).head().isNullAt(2))  // no amount col
    val inner = KqlParser.run("Orders | union kind=inner Extra", reg)
    assert(inner.columns.toSeq == Seq("orderid", "city"))
    assert(inner.count() == 4L)
  }

  test("parser: union accepts parenthesized sub-pipelines") {
    val out = KqlParser.run(
      "Orders | where amount < 100 | union (Orders | where amount >= 100) | count",
      ordersReg)
    assert(out.head().getLong(0) == 3L)
  }

  test("parser: has matches whole terms case-insensitively; contains matches substrings") {
    val reg = Map("T" -> Seq("New York", "Newark", "old york town").toDF("city"))
    // `has` needs a delimited term: "york" is a term of "New York" and
    // "old york town" but only a substring of... nothing here; "new" is
    // a term of "New York" but a PREFIX of "Newark" — has must reject it.
    assert(KqlParser.run("T | where city has 'york' | count", reg).head().getLong(0) == 2L)
    assert(KqlParser.run("T | where city has 'new' | count", reg).head().getLong(0) == 1L)
    assert(KqlParser.run("T | where city contains 'new' | count", reg).head().getLong(0) == 2L)
    assert(KqlParser.run("T | where city !has 'york' | count", reg).head().getLong(0) == 1L)
    assert(KqlParser.run("T | where city !contains 'new' | count", reg).head().getLong(0) == 1L)
  }

  test("parser: has treats regex metacharacters in the term literally") {
    val reg = Map("T" -> Seq("uses c++ daily", "uses cpp daily", "c+x").toDF("s"))
    // \Q..\E quoting: '+' must not act as a regex quantifier
    assert(KqlParser.run("T | where s has 'c++' | count", reg).head().getLong(0) == 1L)
    assert(KqlParser.run("T | where s has 'c+x' | count", reg).head().getLong(0) == 1L)
  }

  test("parser: in / !in list membership") {
    val reg = ordersReg
    assert(KqlParser.run("Orders | where city in ('Seattle', 'Denver') | count", reg)
      .head().getLong(0) == 2L)
    assert(KqlParser.run("Orders | where city !in ('Seattle', 'Denver') | count", reg)
      .head().getLong(0) == 1L)
  }

  test("parser: print evaluates table-less scalars; getschema introspects columns") {
    val p = KqlParser.run("print x = 1 + 1, s = strcat('a', 'b'), 42", Map.empty)
    assert(p.columns.toSeq == Seq("x", "s", "print_2"))
    val row = p.head()
    assert(row.getInt(0) == 2 && row.getString(1) == "ab" && row.getInt(2) == 42)
    val sch = KqlParser.run("Orders | getschema", ordersReg).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3)))
    assert(sch.toSeq == Seq(("orderid", 0, "int"), ("city", 1, "string"), ("amount", 2, "int")))
    // ADX scalar spellings: iff/tostring/tolong/toupper map to Spark names
    val f = KqlParser.run(
      "print a = iff(1 < 2, 'y', 'n'), b = tolong('7'), c = toupper('ab'), d = tostring(5)",
      Map.empty).head()
    assert(f.getString(0) == "y" && f.getLong(1) == 7L &&
      f.getString(2) == "AB" && f.getString(3) == "5")
  }

  test("parser: bin with a timespan literal floors timestamps to the span") {
    val reg = Map("T" -> Seq(
      ("2024-03-01 10:47:13", 1), ("2024-03-01 10:02:00", 2), ("2024-03-01 11:30:59", 3))
      .toDF("s", "v").withColumn("ts", to_timestamp(col("s"))))
    val out = KqlParser.run(
      "T | summarize n = count() by h = bin(ts, 1h) | extend ms = unix_millis(h) | project-away h | sort by ms asc",
      reg).collect().map(r => r.getLong(1) -> r.getLong(0))
    // 10:47 and 10:02 share the 10:00 bucket; 11:30 gets 11:00
    assert(out.length == 2 && out(0)._2 == 2L && out(1)._2 == 1L)
    assert(out(1)._1 - out(0)._1 == 3600L * 1000)
    val m = KqlParser.run(
      "T | summarize n = count() by m = bin(ts, 30m) | count", reg).head().getLong(0)
    assert(m == 3L) // 10:47→10:30, 10:02→10:00, 11:30→11:30 — three buckets
  }

  test("parser: make-series builds dense zero-filled series with a time axis") {
    val reg = Map("T" -> Seq(
      ("2024-03-01 00:10:00", "a"), ("2024-03-01 00:20:00", "a"),
      ("2024-03-03 05:00:00", "a"), ("2024-03-02 09:00:00", "b"))
      .toDF("s", "k").withColumn("ts", to_timestamp(col("s"))))
    val out = KqlParser.run(
      "T | make-series n = count() on ts from datetime(2024-03-01) to datetime(2024-03-04) step 1d by k",
      reg).collect().map(r => r.getString(0) ->
        (r.getSeq[Long](r.fieldIndex("n")), r.getSeq[java.sql.Timestamp](r.fieldIndex("ts"))))
      .toMap
    assert(out("a")._1 == Seq(2L, 0L, 1L))  // day 2 zero-filled
    assert(out("b")._1 == Seq(0L, 1L, 0L))
    val axis = out("a")._2
    assert(axis.length == 3 &&
      axis(1).getTime - axis(0).getTime == 86400000L &&
      axis(2).getTime - axis(1).getTime == 86400000L)
    // uneven range: 2.5 days at step 1d must yield a partial THIRD bin
    // holding the tail event, not silently drop it
    val uneven = KqlParser.run(
      "T | make-series n = count() on ts from datetime(2024-03-01) to datetime(2024-03-03 12:00:00) step 1d by k",
      reg).collect().map(r => r.getString(0) -> r.getSeq[Long](r.fieldIndex("n"))).toMap
    assert(uneven("a") == Seq(2L, 0L, 1L)) // 03-03 05:00 lands in the partial bin
  }

  test("parser: make-series avg/min/max aggregates and a non-zero default fill") {
    val reg = Map("T" -> Seq(
      ("2024-03-01 00:10:00", 10), ("2024-03-01 00:20:00", 20),
      ("2024-03-03 05:00:00", 7))
      .toDF("s", "v").withColumn("ts", to_timestamp(col("s"))))
    val span = "on ts from datetime(2024-03-01) to datetime(2024-03-04) step 1d"
    val a = KqlParser.run(s"T | make-series m = avg(v) default = -1 $span", reg).head()
    // empty day 2 fills with -1 (cast to avg's double), NOT zero
    assert(a.getSeq[Double](a.fieldIndex("m")) == Seq(15.0, -1.0, 7.0))
    val mn = KqlParser.run(s"T | make-series m = min(v) $span", reg).head()
    assert(mn.getSeq[Int](mn.fieldIndex("m")) == Seq(10, 0, 7)) // default default = 0
    val mx = KqlParser.run(s"T | make-series m = max(v) default = -1 $span", reg).head()
    assert(mx.getSeq[Int](mx.fieldIndex("m")) == Seq(20, -1, 7))
  }

  test("parser: serialize row-window functions prev/next/row_cumsum/row_number") {
    val reg = Map("T" -> Seq(("a", 10), ("b", 30), ("c", 20)).toDF("k", "v"))
    val out = KqlParser.run(
      "T | sort by k asc | serialize rn = row_number(), p = prev(v), nx = next(v), run = row_cumsum(v) | project k, rn, p, nx, run",
      reg).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    // prev: null on the first row; next: null on the last
    assert(out(0).isNullAt(2) && out(1).getInt(2) == 10 && out(2).getInt(2) == 30)
    assert(out(0).getInt(3) == 30 && out(1).getInt(3) == 20 && out(2).isNullAt(3))
    assert(out.map(_.getLong(4)).toSeq == Seq(10L, 40L, 60L))
  }

  test("parser: sort alone serializes; prev offset/default and row_number(start)") {
    val reg = Map("T" -> Seq(3, 1, 2).toDF("v"))
    val out = KqlParser.run(
      "T | sort by v asc | extend p = prev(v, 1, 0), rn = row_number(10) | project v, p, rn",
      reg).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 1, 2)) // default 0 fills row 1
    assert(out.map(_.getInt(2)).toSeq == Seq(10, 11, 12))
  }

  test("parser: extend sequences an item whose row function reads a same-stage column in other casing") {
    // Spark resolves `w` to the column `W` assigned earlier in the same
    // extend, so the batched helper path (which attaches `prev(w)`
    // before `W` exists) must not be taken
    val reg = Map("T" -> Seq(3, 1, 2).toDF("v"))
    val out = KqlParser.run(
      "T | sort by v asc | extend W = v * 2, p = prev(w) | project v, W, p", reg).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(out(0).isNullAt(2) && out(1).getInt(2) == 2 && out(2).getInt(2) == 4)
  }

  test("parser: extend applies its items in runs split where a row function reads an earlier item") {
    // `p = prev(w)` reads `W`, assigned earlier in the same extend, so
    // it opens a second run; `q = prev(v)` joins that run
    val reg = Map("T" -> Seq(3, 1, 2).toDF("v"))
    val out = KqlParser.run(
      "T | sort by v asc | extend W = v * 2, p = prev(w), q = prev(v) | project v, W, p, q",
      reg).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(out.map(r => Option(r.get(2))).toSeq == Seq(None, Some(2), Some(4)))
    assert(out.map(r => Option(r.get(3))).toSeq == Seq(None, Some(1), Some(2)))
    // the second prev(W) reads the W the first item assigned, so it may
    // not reuse the first item's helper over the original W
    val w = Map("T" -> Seq((1, 10), (2, 20), (3, 30)).toDF("v", "W"))
    val re = KqlParser.run(
      "T | sort by v asc | extend W = prev(W), q = prev(W) | project v, W, q", w).collect()
    assert(re.map(r => Option(r.get(1))).toSeq == Seq(None, Some(10), Some(20)))
    assert(re.map(r => Option(r.get(2))).toSeq == Seq(None, None, Some(10)))
  }

  test("parser: prev/next refuse a non-literal offset loudly") {
    // r20 (r19 verdict #9): the legacy fallback planned a corpus-sized
    // single-partition window for a non-literal offset — a user query
    // must never silently get that plan. The distributed dense-sequence
    // shift needs a constant; anything else is a loud error.
    val reg = Map("T" -> Seq((1, 1), (2, 1)).toDF("v", "k"))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | sort by v asc | extend p = prev(v, k)", reg)
    }
    assert(e.getMessage.contains("integer literal"))
    assert(e.getMessage.contains("single-partition"))
  }

  test("parser: serialize and row functions refuse unordered frames") {
    val reg = Map("T" -> Seq(1).toDF("v"))
    val e1 = intercept[IllegalArgumentException] { KqlParser.run("T | serialize", reg) }
    assert(e1.getMessage.contains("sort"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend p = prev(v)", reg)
    }
    assert(e2.getMessage.contains("serialized"))
    // a re-shuffling verb (summarize) invalidates an established order
    val e3 = intercept[IllegalArgumentException] {
      KqlParser.run("T | sort by v asc | summarize n = count() | extend p = prev(n)", reg)
    }
    assert(e3.getMessage.contains("serialized"))
  }

  test("parser: top-nested layers top-k per surviving prefix") {
    val reg = Map("T" -> Seq(
      ("a", "x", 1), ("a", "y", 5), ("b", "x", 10), ("b", "z", 2), ("c", "x", 1)
    ).toDF("g", "k", "v"))
    val out = KqlParser.run(
      "T | top-nested 2 of g by s = sum(v), top-nested 1 of k by m = max(v)", reg)
    assert(out.columns.toSeq == Seq("g", "s", "k", "m"))
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
    // g sums: a=6, b=12, c=1 → top2 = {b, a}; within b max k = x(10), within a y(5)
    assert(rows == Set(("b", 12L, "x", 10), ("a", 6L, "y", 5)))
  }

  test("parser: top-nested asc, omitted N keeps all") {
    val reg = Map("T" -> Seq(
      ("a", 1), ("a", 5), ("b", 10), ("c", 2)).toDF("g", "v"))
    val asc = KqlParser.run("T | top-nested 2 of g by s = sum(v) asc", reg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(asc == Set(("c", 2L), ("a", 6L))) // two smallest sums
    val all = KqlParser.run("T | top-nested of g by n = count()", reg)
    assert(all.count() == 3)
  }

  test("parser: top-nested with others buckets the excluded keys") {
    val reg = Map("T" -> Seq(
      ("a", 1), ("a", 5), ("b", 10), ("c", 2), ("d", 3)).toDF("g", "v"))
    // sums: a=6, b=10, c=2, d=3 → top2 {b, a}; others = c+d = 5
    val out = KqlParser.run(
      "T | top-nested 2 of g with others = 'rest' by s = sum(v)", reg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("b", 10L), ("a", 6L), ("rest", 5L)))
    // nested: others on the INNER level, per surviving prefix; deeper
    // columns on a level-1 others row are null
    val reg2 = Map("T" -> Seq(
      ("a", "x", 1), ("a", "y", 5), ("a", "z", 2),
      ("b", "x", 10), ("b", "z", 2), ("c", "x", 1)).toDF("g", "k", "v"))
    val nested = KqlParser.run(
      "T | top-nested 2 of g by s = sum(v), top-nested 1 of k with others = 'other k' by m = sum(v)",
      reg2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    // g sums: a=8, b=12, c=1 → top2 {b, a}. within b: x=10 kept, others z=2;
    // within a: y=5 kept, others x+z=3
    assert(nested == Set(
      ("b", 12L, "x", 10L), ("b", 12L, "other k", 2L),
      ("a", 8L, "y", 5L), ("a", 8L, "other k", 3L)))
    val outer = KqlParser.run(
      "T | top-nested 1 of g with others = 'other g' by s = sum(v), top-nested 1 of k by m = sum(v)",
      reg2).collect()
    val othersRow = outer.find(_.getString(0) == "other g").get
    assert(othersRow.getLong(1) == 9L && othersRow.isNullAt(2) && othersRow.isNullAt(3))
    // a non-string key under `with others` is cast to string so the
    // label row unions cleanly (documented deviation)
    val intKey = KqlParser.run(
      "T3 | top-nested 1 of i with others = 'rest' by s = sum(v)",
      Map("T3" -> Seq((1, 5), (2, 3), (3, 2)).toDF("i", "v")))
    assert(intKey.schema("i").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(intKey.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("1", 5L), ("rest", 5L)))
    // unlimited level excludes nothing → clause rejected loudly
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | top-nested of g with others = 'rest' by s = sum(v)", reg)
    }
    assert(e.getMessage.contains("explicit N"))
  }

  test("parser: between, has_any/has_all, countof, dcountif, project-reorder") {
    val reg = Map("T" -> Seq(
      ("alpha beta gamma", 10, "a"), ("beta delta beta", 20, "b"),
      ("epsilon", 30, "a"), ("alpha delta", 40, "b")).toDF("s", "v", "g"))
    // between is inclusive on both ends; !between negates
    assert(KqlParser.run("T | where v between (20 .. 30) | count", reg)
      .collect().head.getLong(0) == 2L)
    assert(KqlParser.run("T | where v !between (20 .. 30) | count", reg)
      .collect().head.getLong(0) == 2L)
    // has_any = OR of whole-term matches, has_all = AND
    assert(KqlParser.run("T | where s has_any ('alpha', 'epsilon') | count", reg)
      .collect().head.getLong(0) == 3L)
    assert(KqlParser.run("T | where s has_all ('beta', 'delta') | count", reg)
      .collect().head.getLong(0) == 1L)
    // countof counts literal occurrences — OVERLAPPING, the ADX
    // semantic: countof('aaa', 'aa') = 2 (r9 ADVICE fix; a
    // replace-based count would say 1)
    val counts = KqlParser.run("T | extend n = countof(s, 'beta') | project n", reg)
      .collect().map(_.getInt(0)).toSeq
    assert(counts == Seq(1, 2, 0, 0))
    val ov = Map("O" -> Seq("aaa", "aaaa", "ab", "").toDF("s"))
    assert(KqlParser.run("O | extend n = countof(s, 'aa') | project n", ov)
      .collect().map(_.getInt(0)).toSeq == Seq(2, 3, 0, 0))
    // needle longer than source / empty source: 0, never an error
    assert(KqlParser.run("O | extend n = countof(s, 'aaaaaaaa') | project n", ov)
      .collect().map(_.getInt(0)).toSeq == Seq(0, 0, 0, 0))
    // dcountif: distinct values where the predicate holds
    val dc = KqlParser.run(
      "T | summarize d = dcountif(g, v >= 20) | project d", reg)
      .collect().head.getLong(0)
    assert(dc == 2L)
    // project-reorder: listed first, remainder in existing order
    assert(KqlParser.run("T | project-reorder v", reg).columns.toSeq ==
      Seq("v", "s", "g"))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | project-reorder nope", reg)
    }
    assert(e.getMessage.contains("unknown column"))
  }

  test("parser: array_* ADX functions map onto Spark array ops") {
    val reg = Map("T" -> Seq((Seq(3, 1, 2), Seq(9, 8))).toDF("a", "b"))
    val r = KqlParser.run(
      "T | extend n = array_length(a), srt = array_sort_asc(a), rev = array_reverse(a), " +
        "cat = array_concat(a, b), idx = array_index_of(a, 2), miss = array_index_of(a, 99), " +
        "s = array_sum(a) " +
        "| project n, srt, rev, cat, idx, miss, s", reg).collect().head
    assert(r.getInt(0) == 3)
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getSeq[Int](2) == Seq(2, 1, 3))
    assert(r.getSeq[Int](3) == Seq(3, 1, 2, 9, 8))
    assert(r.getLong(4) == 2L)   // 0-based
    assert(r.getLong(5) == -1L)  // absent → -1 (ADX)
    assert(r.getDouble(6) == 6.0)
  }

  test("parser: bin_at anchors binning at a fixed point") {
    val reg = Map("T" -> Seq(3, 7, 12, 18).toDF("v"))
    // anchor 2, size 5 → buckets [2,7), [7,12), [12,17), [17,22)
    val out = KqlParser.run("T | extend b = bin_at(v, 5, 2) | project b", reg)
      .collect().map(_.getInt(0)).toSeq
    assert(out == Seq(2, 7, 12, 17))
    // datetime form: 1d bins anchored at noon → noon-to-noon days
    val t = Map("E" -> Seq("2024-01-02 10:00:00", "2024-01-02 14:00:00")
      .toDF("s"))
    val ms = KqlParser.run(
      "E | extend ts = to_timestamp(s) | extend b = bin_at(ts, 1d, datetime(2024-01-01 12:00:00)) | project ms = unix_millis(b)",
      t).collect().map(_.getLong(0)).toSeq
    assert(ms == Seq(1704110400000L, 1704196800000L)) // Jan 1 12:00, Jan 2 12:00 UTC
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend b = bin_at(v, v, 0)", reg)
    }
    assert(e.getMessage.contains("literal"))
  }

  test("parser: datetime_add/datetime_diff and strcat_delim") {
    val reg = Map("T" -> Seq(1).toDF("one"))
    val r = KqlParser.run(
      "T | extend plus2d = unix_millis(datetime_add('day', 2, datetime(2024-01-01)))," +
        " dh = datetime_diff('hour', datetime(2024-01-02), datetime(2024-01-01))," +
        " joined = strcat_delim('-', 'a', one, '')" +
        " | project plus2d, dh, joined", reg).collect().head
    assert(r.getLong(0) == 1704240000000L) // 2024-01-03 UTC
    assert(r.getLong(1) == 24L)            // ADX order: dt1 - dt2
    assert(r.getString(2) == "a-1-")       // nulls/empties keep their slot
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend x = datetime_add('fortnight', 1, now())", reg)
    }
    assert(e.getMessage.contains("period"))
  }

  test("parser: toscalar binds a single-cell subquery result as a scalar let") {
    val reg = Map("T" -> Seq(("a", 10), ("b", 30), ("c", 20)).toDF("g", "v"))
    val out = KqlParser.run(
      "let cutoff = toscalar(T | summarize m = avg(v)); T | where v > cutoff | count",
      reg).collect().head.getLong(0)
    assert(out == 1L) // avg = 20, only 30 exceeds it
    // string cells quote; the bound literal composes in expressions
    val s = KqlParser.run(
      "let topg = toscalar(T | top 1 by v desc | project g); " +
        "T | where g == topg | project v", reg).collect().head.getInt(0)
    assert(s == 30)
    val multi = intercept[IllegalArgumentException] {
      KqlParser.run("let x = toscalar(T | project v); print v = x", reg)
    }
    assert(multi.getMessage.contains("exactly one row"))
    val wide = intercept[IllegalArgumentException] {
      KqlParser.run("let x = toscalar(T | summarize a = count(), b = sum(v)); print v = x", reg)
    }
    assert(wide.getMessage.contains("single-column"))
  }

  test("parser: union withsource tags rows with their operand") {
    val reg = Map(
      "A" -> Seq(1, 2).toDF("v"),
      "B" -> Seq(3).toDF("v"))
    val out = KqlParser.run("A | union withsource=origin (B | extend v = v * 10)", reg)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out.map(_._1) == Set(1, 2, 30))
    // the piped-in left frame tags with its root table name (ADX);
    // sub-pipelines tag with their text (documented deviation)
    assert(out.collect { case (v, o) if v <= 2 => o } == Set("A"))
    assert(out.find(_._1 == 30).get._2.startsWith("(B"))
    // with a plain table operand — bare or parenthesized — the tag is
    // the table name
    val named = KqlParser.run("A | union withsource=origin B", reg)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(named.contains((3, "B")))
    val paren = KqlParser.run("A | union withsource=origin (B)", reg)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(paren.contains((3, "B")))
    // a datatable-rooted left frame has no table name: literal "source"
    val dt = KqlParser.run(
      "datatable(v:int)[7] | union withsource=origin B", reg)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(dt == Set((7, "source"), (3, "B")))
  }

  test("parser: parse-where drops non-matching rows; parse keeps them null-filled") {
    val reg = Map("T" -> Seq("user=alice id=7", "user=bob id=9", "garbage line")
      .toDF("s"))
    val kept = KqlParser.run(
      "T | parse-where s with 'user=' name ' id=' id:long | project name, id", reg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(kept == Seq(("alice", 7L), ("bob", 9L)))
    // plain parse keeps the garbage row with null slots
    val all = KqlParser.run(
      "T | parse s with 'user=' name ' id=' id:long | project name, id", reg)
    assert(all.count() == 3L && all.filter("id IS NULL").count() == 1L)
  }

  test("parser: facet by emits the long-form (facet_column, value, count_) frame") {
    val reg = Map("T" -> Seq(("a", 1), ("a", 2), ("b", 1)).toDF("g", "v"))
    val out = KqlParser.run("T | facet by g, v", reg).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      ("g", "a", 2L), ("g", "b", 1L),
      ("v", "1", 2L), ("v", "2", 1L)))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | facet by g with (where v > 1)", reg)
    }
    assert(e.getMessage.contains("facet"))
  }

  test("parser: evaluate bag_unpack expands a dynamic bag into typed columns") {
    spark.sparkContext // datatable-only pipeline: force the session first
    val q =
      """datatable(k:string, d:dynamic)[
        |  "a", dynamic({"n": 3, "city": "Austin"}),
        |  "b", dynamic({"n": 7})]
        || evaluate bag_unpack(d)""".stripMargin.replace("\n", " ")
    val out = KqlParser.run(q, Map.empty)
    // bag column replaced by its keys in alphabetical order, appended
    assert(out.columns.toSeq == Seq("k", "city", "n"))
    val rows = out.collect().map(r =>
      (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(rows == Set(("a", Some("Austin"), 3L), ("b", None, 7L)))
    // prefix form
    val pre = KqlParser.run(q + " | count", Map.empty) // smoke the plain form once more
    assert(pre.collect().head.getLong(0) == 2L)
    val prefixed = KqlParser.run(
      """datatable(d:dynamic)[dynamic({"x": 1})] | evaluate bag_unpack(d, 'p_')""",
      Map.empty)
    assert(prefixed.columns.toSeq == Seq("p_x"))
    // non-variant input is rejected loudly
    val bad = intercept[IllegalArgumentException] {
      KqlParser.run("T | evaluate bag_unpack(v)",
        Map("T" -> Seq(1).toDF("v")))
    }
    assert(bad.getMessage.contains("VARIANT") || bad.getMessage.contains("dynamic"))
    // a bag key colliding with an existing column rejects (it would
    // silently overwrite through withColumn); the prefix resolves it
    val clash = intercept[IllegalArgumentException] {
      KqlParser.run(
        """datatable(k:string, d:dynamic)["x", dynamic({"k": 1})] | evaluate bag_unpack(d)""",
        Map.empty)
    }
    assert(clash.getMessage.contains("collide"))
    val resolved = KqlParser.run(
      """datatable(k:string, d:dynamic)["x", dynamic({"k": 1})] | evaluate bag_unpack(d, 'p_')""",
      Map.empty)
    assert(resolved.columns.toSeq == Seq("k", "p_k"))
  }

  test("parser: pack_array/bag_pack construct dynamics; cast spellings todatetime/tobool") {
    val reg = Map("T" -> Seq((3, "x")).toDF("v", "s"))
    val r = KqlParser.run(
      "T | extend a = pack_array(v, v * 2), b = bag_pack('n', v, 's', s) " +
        "| extend n2 = tolong(b.n), s2 = tostring(b.s), " +
        "d = todatetime('2024-03-01 10:00:00'), f = tobool('false') " +
        "| project a, n2, s2, d, f", reg).collect().head
    assert(r.getSeq[Int](0) == Seq(3, 6))
    assert(r.getLong(1) == 3L && r.getString(2) == "x")
    assert(r.getTimestamp(3) == java.sql.Timestamp.valueOf("2024-03-01 10:00:00"))
    assert(!r.getBoolean(4))
    // computed bag keys are a documented deviation: rejected loudly
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend b = bag_pack(s, v)", reg)
    }
    assert(e.getMessage.contains("string literals"))
    // `pack` is the legacy ADX spelling of bag_pack
    val legacy = KqlParser.run(
      "T | extend b = pack('k', v) | extend k = tolong(b.k) | project k", reg)
      .collect().head.getLong(0)
    assert(legacy == 3L)
  }

  test("parser: parse-kv extracts typed keys; absent or malformed values null out") {
    val reg = Map("T" -> Seq(
      "a=1;b=x;c=2.5", "a=7;c=oops", "nothing useful").toDF("s"))
    val out = KqlParser.run(
      "T | parse-kv s as (a:long, b:string, c:real) with (pair_delimiter=';', kv_delimiter='=')"
        + " | project a, b, c", reg).collect()
    assert(out.length == 3) // parse-kv keeps every row (it's an extend, not a filter)
    val r0 = out(0); val r1 = out(1); val r2 = out(2)
    assert(r0.getLong(0) == 1L && r0.getString(1) == "x" && r0.getDouble(2) == 2.5)
    assert(r1.getLong(0) == 7L && r1.isNullAt(1) && r1.isNullAt(2)) // 'oops' fails the real cast
    assert(r2.isNullAt(0) && r2.isNullAt(1) && r2.isNullAt(2))
    // default delimiters: space pairs, '=' kv
    val d = KqlParser.run("T2 | parse-kv s as (k:long) | project k",
      Map("T2" -> Seq("k=42 other=1").toDF("s"))).collect().head
    assert(d.getLong(0) == 42L)
    // literal (non-regex) delimiter semantics: '.' must not match-any
    val dot = KqlParser.run(
      "T3 | parse-kv s as (k:string) with (pair_delimiter='.', kv_delimiter='=')" +
        " | project k",
      Map("T3" -> Seq("k=ab.z=1").toDF("s"))).collect().head
    assert(dot.getString(0) == "ab")
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | parse-kv s as (a:long) with (quote='\"')", reg)
    }
    assert(e.getMessage.contains("parse-kv"))
  }

  test("parser: trim family strips anchored regex matches; take_any picks deterministically") {
    val reg = Map("T" -> Seq(("xxabcxx", "g1"), ("xaxbx", "g1"), ("abc", "g2"))
      .toDF("s", "g"))
    val out = KqlParser.run(
      "T | extend t = trim('x', s), ts = trim_start('x', s), te = trim_end('x', s) " +
        "| project t, ts, te", reg)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("abc", "abcxx", "xxabc"),
      ("axb", "axbx", "xaxb"),
      ("abc", "abc", "abc")))
    // regex (not charset) semantics: a class strips repeatedly
    val cls = KqlParser.run("T2 | project t = trim('[ab]', s)",
      Map("T2" -> Seq("abaZZba").toDF("s"))).collect().head.getString(0)
    assert(cls == "ZZ")
    // take_any: the deterministic (min) pick, ADX default column name
    val any = KqlParser.run("T | summarize take_any(s) by g | sort by g asc", reg)
    assert(any.columns.contains("take_any_s"))
    assert(any.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("g1", "xaxbx"), ("g2", "abc")))
  }

  test("parser: search filters on any string column; distinct projects and dedups") {
    val reg = Map("T" -> Seq(
      ("Spark rocks", "en", 1), ("nothing here", "en", 2),
      ("plain", "sparkish", 3), ("plain", "de", 3)).toDF("txt", "tag", "v"))
    // case-insensitive, across ALL string columns (txt and tag)
    val hits = KqlParser.run("T | search 'spark' | project v", reg)
      .collect().map(_.getInt(0)).toSet
    assert(hits == Set(1, 3))
    assert(KqlParser.run("T | search 'SPARK' | count", reg)
      .collect().head.getLong(0) == 2L)
    val d = KqlParser.run("T | distinct txt, v | where txt == 'plain'", reg)
    assert(d.count() == 1L) // ("plain", 3) deduped
    assert(KqlParser.run("T | distinct *", reg).count() == 4L)
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | search in (T) 'x'", reg)
    }
    assert(e.getMessage.contains("search"))
  }

  test("parser: partition by desugars top-per-group and keyed summarize") {
    val reg = Map("T" -> Seq(
      ("a", 1), ("a", 5), ("a", 3), ("b", 9), ("b", 2)).toDF("g", "v"))
    // top N by: per-group top-k with the KQL desc default
    val top = KqlParser.run("T | partition by g (top 2 by v) | sort by g asc, v desc", reg)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(top == Seq(("a", 5), ("a", 3), ("b", 9), ("b", 2)))
    // asc order honored
    val asc = KqlParser.run("T | partition by g (top 1 by v asc)", reg)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(asc == Set(("a", 1), ("b", 2)))
    // summarize appends the partition column to the group keys
    val agg = KqlParser.run("T | partition by g (summarize s = sum(v)) | sort by g asc", reg)
      .collect().map(r => (r.getString(r.fieldIndex("g")), r.getLong(r.fieldIndex("s")))).toSeq
    assert(agg == Seq(("a", 9L), ("b", 11L)))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | partition by g (where v > 2)", reg)
    }
    assert(e.getMessage.contains("partition subquery"))
  }

  test("parser: format_datetime maps ADX specifiers onto date_format") {
    val reg = Map("T" -> Seq(java.sql.Timestamp.valueOf("2024-03-05 07:08:09.123"))
      .toDF("ts"))
    val out = KqlParser.run(
      "T | extend d = format_datetime(ts, 'yyyy-MM-dd'), " +
        "t = format_datetime(ts, 'HH:mm:ss.fff') | project d, t", reg)
      .collect().head
    assert(out.getString(0) == "2024-03-05")
    assert(out.getString(1) == "07:08:09.123")
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend x = format_datetime(ts, 'QQ')", reg)
    }
    assert(e.getMessage.contains("format_datetime"))
  }

  test("parser: sample and sample-distinct are deterministic content-hash picks") {
    val reg = Map("T" -> Seq.tabulate(50)(i => (i.toLong, s"g${i % 5}")).toDF("id", "g"))
    val a = KqlParser.run("T | sample 7", reg).collect().map(_.getLong(0)).toSeq
    val b = KqlParser.run("T | sample 7", reg).collect().map(_.getLong(0)).toSeq
    assert(a == b && a.length == 7 && a.distinct.length == 7)
    val d = KqlParser.run("T | sample-distinct 3 of g", reg)
      .collect().map(_.getString(0)).toSeq
    assert(d.length == 3 && d.distinct.length == 3)
    val d2 = KqlParser.run("T | sample-distinct 3 of g", reg)
      .collect().map(_.getString(0)).toSeq
    assert(d == d2)
  }

  test("parser: materialize() persists a tabular let") {
    val reg = Map("T" -> Seq(("a", 1), ("b", 2), ("a", 3)).toDF("g", "v"))
    val out = KqlParser.run(
      "let agg = materialize(T | summarize s = sum(v) by g); " +
        "agg | join kind=inner (agg) on g | count", reg)
    assert(out.collect().head.getLong(0) == 2L)
    // the persisted frame is the let's binding — visible via its storage level
    val frame = KqlParser.run(
      "let m = materialize(T | summarize s = sum(v) by g); m", reg)
    assert(frame.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    frame.unpersist()
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("let x = materialize(1 + 2); print v = x", reg)
    }
    assert(e.getMessage.contains("tabular"))
  }

  test("parser: join hint.strategy pins the physical join, either option order") {
    val reg = Map(
      "L" -> Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "x"),
      "R" -> Seq((1, 10), (2, 20)).toDF("k", "y"))
    val b = KqlParser.run("L | join kind=inner hint.strategy=broadcast (R) on k", reg)
    // ADX broadcast join ships the LEFT (small-by-convention) side
    assert(b.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(b.queryExecution.executedPlan.toString.contains("BuildLeft"))
    assert(b.count() == 2L)
    // reversed option order parses identically
    val b2 = KqlParser.run("L | join hint.strategy=broadcast kind=inner (R) on k", reg)
    assert(b2.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val s = KqlParser.run("L | join kind=leftouter hint.strategy=shuffle (R) on k", reg)
    assert(s.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"))
    assert(s.count() == 3L)
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("L | join hint.strategy=mergejoin (R) on k", reg)
    }
    assert(e.getMessage.contains("hint.strategy"))
  }

  test("parser: series_* pointwise math over array columns") {
    val reg = Map("T" -> Seq(
      (Seq(1.0, 2.0, 3.0), Seq(10.0, 20.0, 30.0))).toDF("a", "b"))
    val out = KqlParser.run(
      "T | extend s = series_add(a, b), d = series_subtract(b, a), " +
        "m = series_multiply(a, b), q = series_divide(b, a), " +
        "tot = series_sum(b), mean = series_avg(b) " +
        "| project s, d, m, q, tot, mean", reg).collect().head
    assert(out.getSeq[Double](0) == Seq(11.0, 22.0, 33.0))
    assert(out.getSeq[Double](1) == Seq(9.0, 18.0, 27.0))
    assert(out.getSeq[Double](2) == Seq(10.0, 40.0, 90.0))
    assert(out.getSeq[Double](3) == Seq(10.0, 10.0, 10.0))
    assert(out.getDouble(4) == 60.0 && out.getDouble(5) == 20.0)
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend z = series_cross_correlate(a)", reg)
    }
    assert(e.getMessage.contains("unsupported series function"))
  }

  test("parser: pack_all desugar is quote-aware and escapes column names") {
    import KqlParser.rewritePackAll
    // inside a string literal: untouched (old contains+replaceAll broke this)
    assert(rewritePackAll("x = strcat('pack_all()', y)", Seq("a")) ==
      "x = strcat('pack_all()', y)")
    assert(rewritePackAll("b = pack_all()", Seq("a")) == "b = bag_pack('a', `a`)")
    assert(rewritePackAll("b = pack_all ( )", Seq("a", "k")) ==
      "b = bag_pack('a', `a`, 'k', `k`)")
    // identifier-prefix immunity and non-zero-arg passthrough
    assert(rewritePackAll("b = my_pack_all()", Seq("a")) == "b = my_pack_all()")
    assert(rewritePackAll("b = pack_all(true)", Seq("a")) == "b = pack_all(true)")
    // a column name containing a quote embeds doubled
    assert(rewritePackAll("b = pack_all()", Seq("o'k")) ==
      "b = bag_pack('o''k', `o'k`)")
    // a backslash-escaped quote inside a literal must not flip the
    // quote state — the pack_all AFTER it still rewrites (r13 advice)
    assert(rewritePackAll("""x = strcat('it\'s', ''), b = pack_all()""", Seq("a")) ==
      """x = strcat('it\'s', ''), b = bag_pack('a', `a`)""")
    // ...and one INSIDE a literal after an escaped quote stays literal
    assert(rewritePackAll("""x = 'a\' pack_all() b'""", Seq("a")) ==
      """x = 'a\' pack_all() b'""")
    // splitTopLevel shares the convention: the comma inside the
    // escaped literal does not split
    assert(KqlParser.splitTopLevel("""f('it\'s, not', x), y""", ',') ==
      Seq("""f('it\'s, not', x)""", " y"))
    // end-to-end: the literal survives to the output, the bag is real
    val reg = Map("T" -> Seq((1L, 2L)).toDF("a", "k"))
    val r = KqlParser.run(
      "T | extend s = strcat('pack_all()', tostring(a)), bag = pack_all() " +
        "| project s, j = tostring(bag)", reg).head()
    assert(r.getString(0) == "pack_all()1")
    assert(r.getString(1).contains("\"a\":1") && r.getString(1).contains("\"k\":2"))
  }

  test("parser: ipv6 tier — prefix edges, default prefix, suffixed-input reject") {
    val reg = Map("T" -> Seq(Tuple1(1L)).toDF("x"))
    val r = KqlParser.run(
      "T | extend a = ipv6_compare('2001:db8::1', 'fe80::1', 0), " +       // prefix 0: everything equal
        "b = ipv6_compare('::1', '::2'), " +                               // default 128
        "c = ipv6_is_match('2001:db8::1', '2001:db8::2'), " +              // default 128: differ
        "d = parse_ipv6_mask('::1', 129), " +                              // prefix out of range
        "e = parse_ipv6('::1/64'), " +                                     // suffixed input rejected
        "f = parse_ipv6_mask('abcd:ef01::', 9) " +                         // partial-word mask: keep 9 bits of abcd
        "| project a, b, c, d, e, f", reg).collect().head
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) == -1L)
    assert(!r.getBoolean(2))
    assert(r.isNullAt(3) && r.isNullAt(4))
    // 0xabcd = 1010101111001101; keeping 9 bits → 1010101110000000 = 0xab80
    assert(r.getString(5) == "ab80:0000:0000:0000:0000:0000:0000:0000")
  }

  test("parser: make_bag / make_bag_if — deterministic first-wins merge in json order") {
    val reg = Map("T" -> Seq(
      (1L, "a", 1L), (1L, "b", 2L), (2L, "c", 3L)).toDF("g", "k", "v"))
    val out = KqlParser.run(
      "T | extend b = bag_pack('k', k, 'n', v) " +
        "| summarize bag = make_bag(b), bif = make_bag_if(b, v == 2) by g " +
        "| extend mk = tostring(bag.k), mn = tolong(bag.n), " +
        "ik = tostring(bif.k) " +
        "| project g, mk, mn, ik | sort by g asc", reg).collect()
    // group 1 merges {"k":"a","n":1} and {"k":"b","n":2}: ascending json
    // order puts the "a" bag first, and FIRST wins per key
    assert(out(0).getLong(0) == 1L && out(0).getString(1) == "a" &&
      out(0).getLong(2) == 1L)
    // the _if form only sees v == 2
    assert(out(0).getString(3) == "b")
    assert(out(1).getLong(0) == 2L && out(1).getString(1) == "c")
    // no matching rows → null bag path extraction
    assert(out(1).isNullAt(3))
    // maxSize arg rejects loudly
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | summarize b2 = make_bag(bag_pack('k', k), 10) by g", reg)
    }
    assert(e.getMessage.contains("maxSize unsupported"))
  }

  test("graft_make_bag renders keys in UTF-8 byte order (r13 advice)") {
    // U+FFFD (UTF-8 ef bf bd) vs U+1F600 (UTF-8 f0 9f 98 80, UTF-16
    // surrogates d83d de00): UTF-16 code-unit order puts the emoji
    // FIRST (d83d < fffd), UTF-8 byte order puts it LAST (f0 > ef) --
    // the aggregate's rendered key order must share the UTF-8-byte
    // convention its per-key donor pick uses. Pinned on the RAW
    // aggregate output (the KQL make_bag path re-parses it into a
    // VARIANT, whose round trip imposes Spark's own field order).
    graft.functions.GraftFunctions.register(spark)
    val (kRep, kEmo) = ("\uFFFD", "\uD83D\uDE00")
    val out = spark.sql(
      s"SELECT graft_make_bag(d) AS s FROM VALUES " +
        s"""('{"$kEmo":2,"$kRep":1}') AS t(d)""")
      .head().getString(0)
    assert(out == s"""{"$kRep":1,"$kEmo":2}""",
      s"expected U+FFFD before U+1F600 (UTF-8 byte order), got $out")
  }

  test("graft_make_bag parses escaped keys and nested values from the donor") {
    // r20: the aggregate derives entries by scanning the donor JSON \u2014
    // pin the scanner's escape handling (\" \\ \uXXXX keys), nested
    // object/array value spans (balanced scan), string values holding
    // braces, and the non-object donor skip (array renderings
    // contribute nothing, the old try_cast-to-map null behavior).
    graft.functions.GraftFunctions.register(spark)
    val donors = Seq(
      "{\"a\\\"q\":1,\"b\":{\"x\":[1,2],\"y\":\"}\"},\"c\\u0041\":\"v,w\"}",
      "[1,2]",
      "{\"b\":{\"x\":[9]},\"z\":3}")
    donors.toDF("d").createOrReplaceTempView("mk_bag_donors")
    val out = spark.sql("SELECT graft_make_bag(d) AS s FROM mk_bag_donors")
      .head().getString(0)
    // keys sort by UTF-8 bytes: "a\"q" < "b" < "cA" < "z"; b's winner
    // is the donor with the smaller canonical JSON (the 3-key one
    // starts '{"a' < '{"b')
    assert(out == """{"a\"q":1,"b":{"x":[1,2],"y":"}"},"cA":"v,w","z":3}""", out)
  }

  test("graft_make_bag: a donor with a truncated \\u escape or an unterminated string contributes nothing") {
    graft.functions.GraftFunctions.register(spark)
    val donors = Seq(
      "{\"ok\":1}",
      "{\"a\\u00\":2}",  // truncated unicode escape inside a key
      "{\"b\":3,\"c\\u00", // donor cut off inside the escape
      "{\"d\":\"open",      // unterminated string value
      "{\"e\":4,\"f")       // unterminated key after a good entry
    donors.toDF("d").createOrReplaceTempView("mk_bag_malformed")
    val out = spark.sql("SELECT graft_make_bag(d) AS s FROM mk_bag_malformed")
      .head().getString(0)
    assert(out == """{"ok":1}""", out)
  }

  test("parser: series unary tier — abs/exp/log/sign/floor/ceiling/round/pow") {
    val reg = Map("T" -> Seq(
      Tuple1(Seq(-1.5, -0.5, 0.0, 0.5, 2.5))).toDF("a"))
    val out = KqlParser.run(
      "T | extend ab = series_abs(a), sg = series_sign(a), " +
        "fl = series_floor(a), ce = series_ceiling(a), rd = series_round(a), " +
        "ex = series_exp(series_multiply(a, 0)), lg = series_log(series_exp(sg)), " +
        "pw = series_pow(a, series_abs(sg)) " +
        "| project ab, sg, fl, ce, rd, ex, lg, pw", reg).collect().head
    assert(out.getSeq[Double](0) == Seq(1.5, 0.5, 0.0, 0.5, 2.5))
    assert(out.getSeq[Double](1) == Seq(-1.0, -1.0, 0.0, 1.0, 1.0))
    assert(out.getSeq[Double](2) == Seq(-2.0, -1.0, 0.0, 0.0, 2.0))
    assert(out.getSeq[Double](3) == Seq(-1.0, 0.0, 0.0, 1.0, 3.0))
    // round: half AWAY FROM ZERO (documented deviation chain)
    assert(out.getSeq[Double](4) == Seq(-2.0, -1.0, 0.0, 1.0, 3.0))
    assert(out.getSeq[Double](5) == Seq(1.0, 1.0, 1.0, 1.0, 1.0))
    // ln(exp(sign(x))) = sign(x) — exp/log round-trip on {-1,0,1}
    assert(out.getSeq[Double](6) == Seq(-1.0, -1.0, 0.0, 1.0, 1.0))
    // x^|sign(x)|: x^1 for nonzero, 0^0 = 1
    assert(out.getSeq[Double](7) == Seq(-1.5, -0.5, 1.0, 0.5, 2.5))
  }

  test("parser: series comparison tier + scalar broadcast; null/empty conventions") {
    val reg = Map("T" -> Seq(
      (Seq(1.0, 5.0, 3.0), Seq(2.0, 4.0, 3.0))).toDF("a", "b"))
    val out = KqlParser.run(
      "T | extend gt = series_greater(a, b), ge = series_greater_equals(a, b), " +
        "lt = series_less(a, b), le = series_less_equals(a, b), " +
        "eq = series_equals(a, b), ne = series_not_equals(a, b), " +
        "bc = series_add(series_multiply(a, 2), 1), rbc = series_subtract(10, a) " +
        "| project gt, ge, lt, le, eq, ne, bc, rbc", reg).collect().head
    assert(out.getSeq[Boolean](0) == Seq(false, true, false))
    assert(out.getSeq[Boolean](1) == Seq(false, true, true))
    assert(out.getSeq[Boolean](2) == Seq(true, false, false))
    assert(out.getSeq[Boolean](3) == Seq(true, false, true))
    assert(out.getSeq[Boolean](4) == Seq(false, false, true))
    assert(out.getSeq[Boolean](5) == Seq(true, true, false))
    // numeric-literal broadcast on either side
    assert(out.getSeq[Double](6) == Seq(3.0, 11.0, 7.0))
    assert(out.getSeq[Double](7) == Seq(9.0, 5.0, 7.0))
    // series_pow broadcasts literals too: a^2 and 2^a
    val powed = KqlParser.run(
      "T | extend sq = series_pow(a, 2), ex2 = series_pow(2, a) | project sq, ex2",
      reg).collect().head
    assert(powed.getSeq[Double](0) == Seq(1.0, 25.0, 9.0))
    assert(powed.getSeq[Double](1) == Seq(2.0, 32.0, 8.0))

    // null elements: unary maps null→null, comparisons are null-strict;
    // empty series stay empty
    val reg2 = Map("T" -> Seq(
      (Seq[java.lang.Double](1.0, null, -2.0), Seq.empty[Double])).toDF("a", "e"))
    val out2 = KqlParser.run(
      "T | extend ab = series_abs(a), sg = series_sign(a), " +
        "gt = series_greater(a, series_multiply(a, 0)), " +
        "ea = series_abs(e), eg = series_greater(e, e) " +
        "| project ab, sg, gt, ea, eg", reg2).collect().head
    assert(out2.getSeq[java.lang.Double](0) == Seq[java.lang.Double](1.0, null, 2.0))
    assert(out2.getSeq[java.lang.Double](1) == Seq[java.lang.Double](1.0, null, -1.0))
    assert(out2.getSeq[java.lang.Boolean](2) == Seq[java.lang.Boolean](true, null, false))
    assert(out2.getSeq[Double](3).isEmpty && out2.getSeq[Boolean](4).isEmpty)
  }

  test("parser: series_fit_line / _dynamic least-squares over the index axis") {
    // y = 1 + 2x is fit exactly: slope 2, intercept 1, rsquare 1.
    val reg = Map("T" -> Seq(Tuple1(Seq(1.0, 3.0, 5.0, 7.0, 9.0))).toDF("y"))
    val r = KqlParser.run(
      "T | extend f = series_fit_line_dynamic(y) " +
        "| project lf = series_fit_line(y), sl = f.slope, ic = f.interception, " +
        "rsq = f.rsquare, rv = f.rvariance", reg).collect().head
    assert(r.getSeq[Double](0) == Seq(1.0, 3.0, 5.0, 7.0, 9.0))
    assert(r.getDouble(1) == 2.0 && r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 0.0)
    // constant series: slope 0, rsquare null (SStot = 0).
    val c = KqlParser.run(
      "T2 | extend f = series_fit_line_dynamic(y) | project sl = f.slope, rsq = f.rsquare",
      Map("T2" -> Seq(Tuple1(Seq(4.0, 4.0, 4.0))).toDF("y"))).collect().head
    assert(c.getDouble(0) == 0.0 && c.isNullAt(1))
  }

  test("parser: series_seasonal per-phase component; format_bytes tiers") {
    val reg = Map("T" -> Seq(Tuple1(
      Seq(1.0, 5.0, 1.0, 5.0, 1.0, 5.0))).toDF("y"))
    // period 2 over 3 whole cycles: phase means 1 and 5, series mean 3
    // -> seasonal alternates -2, +2 and zero-sums
    val r = KqlParser.run("T | project s = series_seasonal(y, 2)", reg)
      .collect().head.getSeq[Double](0)
    assert(r == Seq(-2.0, 2.0, -2.0, 2.0, -2.0, 2.0))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | project s = series_seasonal(y)", reg)
    }
    assert(e.getMessage.contains("period"))
    def one(q: String) = KqlParser.run(s"T | project r = $q", reg).head()
    assert(one("format_bytes(500)").getString(0) == "500 Bytes")
    assert(one("format_bytes(1024)").getString(0) == "1 KB")
    assert(one("format_bytes(1536, 2)").getString(0) == "1.50 KB")
    assert(one("format_bytes(1047527424, 1)").getString(0) == "999.0 MB")
    assert(one("format_bytes(-1)").isNullAt(0))
  }

  test("parser: to*() conversions are null-on-malformed (ADX), not ANSI throws") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    assert(one("todouble('abc')").isNullAt(0))
    assert(one("todouble('')").isNullAt(0))
    assert(one("todouble('2.5')").getDouble(0) == 2.5)
    assert(one("toreal('1e3')").getDouble(0) == 1000.0)
    assert(one("tolong('notanumber')").isNullAt(0))
    assert(one("tolong('42')").getLong(0) == 42L)
    assert(one("toint('12')").getInt(0) == 12)
    assert(one("toint('x12')").isNullAt(0))
    assert(one("tobool('true')").getBoolean(0))
    assert(one("tobool('banana')").isNullAt(0))
    assert(one("todatetime('2024-01-02 03:04:05')").getTimestamp(0).toString
      .startsWith("2024-01-02"))
    assert(one("todatetime('not a date')").isNullAt(0))
  }

  test("parser: bag_keys/bag_has_key/bag_merge semantics") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    assert(one("""bag_keys(parse_json('{"b":1,"a":{"z":2}}'))""")
      .getSeq[String](0) == Seq("a", "b")) // sorted (documented)
    assert(one("bag_keys(parse_json('[1,2]'))").isNullAt(0))
    assert(one("bag_keys(parse_json('3'))").isNullAt(0))
    assert(one("""bag_has_key(parse_json('{"a":null}'), 'a')""").getBoolean(0))
    assert(!one("""bag_has_key(parse_json('{"a":1}'), 'zz')""").getBoolean(0))
    assert(one("bag_has_key(parse_json('[1]'), 'a')").isNullAt(0))
    val e = intercept[IllegalArgumentException] {
      one("""bag_has_key(parse_json('{"a":1}'), '$.a')""")
    }
    assert(e.getMessage.contains("top-level"))
    // merge: first wins on conflicts; union otherwise; non-object -> null
    val m = KqlParser.run(
      """T | extend m = bag_merge(parse_json('{"a":1,"b":2}'), parse_json('{"b":99,"c":3}'))
        | | project ks = strcat_array(bag_keys(m), ','), b = tolong(m.b), c = tolong(m.c)""".stripMargin,
      reg).head()
    assert(m.getString(0) == "a,b,c" && m.getLong(1) == 2L && m.getLong(2) == 3L)
    assert(one("bag_merge(parse_json('[1]'), parse_json('{}'))").isNullAt(0))
  }

  test("parser: series fill family — edge gaps, interior interpolation, all-null") {
    // [null, 2, null, null, 8, null]: forward leaves the lead null,
    // backwards leaves the tail null, linear interpolates 2→8 at
    // thirds and extrapolates the edges with the nearest known value.
    val reg = Map("T" -> Seq(Tuple1(Seq[java.lang.Double](
      null, 2.0, null, null, 8.0, null))).toDF("y"))
    val r = KqlParser.run(
      "T | project ff = series_fill_forward(y), fb = series_fill_backwards(y), " +
        "fl = series_fill_linear(y), fc = series_fill_const(y, -1.0)", reg).collect().head
    assert(r.getSeq[Any](0) == Seq(null, 2.0, 2.0, 2.0, 8.0, 8.0))
    assert(r.getSeq[Any](1) == Seq(2.0, 2.0, 8.0, 8.0, 8.0, null))
    assert(r.getSeq[Double](2) == Seq(2.0, 2.0, 4.0, 6.0, 8.0, 8.0))
    assert(r.getSeq[Double](3) == Seq(-1.0, 2.0, -1.0, -1.0, 8.0, -1.0))
    // all-null series survives every fill untouched
    val n = KqlParser.run(
      "N | project fl = series_fill_linear(y), ff = series_fill_forward(y)",
      Map("N" -> Seq(Tuple1(Seq[java.lang.Double](null, null))).toDF("y"))).collect().head
    assert(n.getSeq[Any](0) == Seq(null, null) && n.getSeq[Any](1) == Seq(null, null))
  }

  test("parser: series_fit_2lines finds the exact breakpoint of a piecewise-linear series") {
    // flat-then-rising: y = 2 on [0,4), then y = 2 + 3(x-4) on [4,8).
    // Each side fits exactly -> total RSS 0, rsquare 1, split at 4.
    val reg = Map("T" -> Seq(Tuple1(
      Seq(2.0, 2.0, 2.0, 2.0, 2.0, 5.0, 8.0, 11.0))).toDF("y"))
    val r = KqlParser.run(
      "T | extend f = series_fit_2lines_dynamic(y) " +
        "| project s = f.split_idx, rsq = f.rsquare, rv = f.rvariance, " +
        "sll = f.left.slope, icl = f.left.interception, " +
        "slr = f.right.slope, icr = f.right.interception, lf = f.line_fit",
      reg).collect().head
    // split at 4 gives left = 4 flat points (slope 0, icept 2) and
    // right = [2,5,8,11] (slope 3, icept 2 on its LOCAL axis)... but
    // wait: index 4 holds 2.0, so split_idx = 4 puts it on the right.
    assert(r.getInt(0) == 4, s"split ${r.getInt(0)}")
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 2.0)
    assert(r.getDouble(5) == 3.0 && r.getDouble(6) == 2.0)
    assert(r.getSeq[Double](7) == Seq(2.0, 2.0, 2.0, 2.0, 2.0, 5.0, 8.0, 11.0))
    // the non-dynamic form is the fitted array; n < 4 -> null bag
    val lf = KqlParser.run("T | project lf = series_fit_2lines(y)", reg)
      .collect().head.getSeq[Double](0)
    assert(lf == Seq(2.0, 2.0, 2.0, 2.0, 2.0, 5.0, 8.0, 11.0))
    assert(KqlParser.run("S | project f = series_fit_2lines_dynamic(y)",
      Map("S" -> Seq(Tuple1(Seq(1.0, 2.0, 3.0))).toDF("y"))).collect().head.isNullAt(0))
  }

  test("parser: series_stats_dynamic bag (population moments, first-occurrence idx)") {
    val reg = Map("T" -> Seq(Tuple1(Seq(4.0, 1.0, 9.0, 1.0))).toDF("y"))
    val r = KqlParser.run(
      "T | extend s = series_stats_dynamic(y) " +
        "| project mn = s.min, mni = s.min_idx, mx = s.max, mxi = s.max_idx, " +
        "av = s.avg, vr = s.variance, sm = s.sum, ln = s.len", reg).collect().head
    assert(r.getDouble(0) == 1.0 && r.getInt(1) == 1)
    assert(r.getDouble(2) == 9.0 && r.getInt(3) == 2)
    assert(r.getDouble(4) == 3.75 && r.getDouble(5) == 10.6875)
    assert(r.getDouble(6) == 15.0 && r.getInt(7) == 4)
  }

  test("parser: series_outliers z-scores; constant series scores 0, not NaN") {
    val reg = Map(
      "T" -> Seq(Tuple1(Seq(0.0, 0.0, 0.0, 8.0))).toDF("y"),
      "C" -> Seq(Tuple1(Seq(5.0, 5.0, 5.0))).toDF("y"))
    // mean 2, varpop (4+4+4+36)/4 = 12, sd = 2*sqrt(3)
    val z = KqlParser.run("T | project z = series_outliers(y)", reg)
      .collect().head.getSeq[Double](0)
    val sd = math.sqrt(12.0)
    assert(z.zip(Seq(-2 / sd, -2 / sd, -2 / sd, 6 / sd))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(KqlParser.run("C | project z = series_outliers(y)", reg)
      .collect().head.getSeq[Double](0) == Seq(0.0, 0.0, 0.0))
  }

  test("parser: series_fir / series_iir — convolution edges, normalization, EMA recurrence") {
    val reg = Map("T" -> Seq(Tuple1(Seq(1.0, 2.0, 3.0, 4.0))).toDF("y"))
    val fir = KqlParser.run(
      "T | project f = series_fir(y, pack_array(1.0, 1.0)), " +
        "n = series_fir(y, pack_array(1.0, 1.0), true)", reg).collect().head
    assert(fir.getSeq[Double](0) == Seq(1.0, 3.0, 5.0, 7.0)) // left edge = partial sum
    assert(fir.getSeq[Double](1) == Seq(0.5, 1.5, 2.5, 3.5))
    val reg2 = Map("T" -> Seq(Tuple1(Seq(2.0, 2.0, 2.0))).toDF("y"))
    val iir = KqlParser.run(
      "T | project e = series_iir(y, pack_array(0.5), pack_array(1.0, -0.5))", reg2)
      .collect().head.getSeq[Double](0)
    assert(iir == Seq(1.0, 1.5, 1.75)) // exponential smoothing recurrence
  }

  test("parser: series similarity tier — dot/magnitude/cosine/pearson") {
    // x = [1,2,3], y = [2,4,6]: dot = 28, |x| = sqrt(14), |y| = sqrt(56),
    // cos = 28/sqrt(14*56) = 1 exactly (56 = 4*14 → sqrt exact product),
    // pearson = 1 (y is a positive affine map of x).
    val reg = Map("T" -> Seq((Seq(1.0, 2.0, 3.0), Seq(2.0, 4.0, 6.0))).toDF("x", "y"))
    val r = KqlParser.run(
      "T | project d = series_dot_product(x, y), m = series_magnitude(x), " +
        "c = series_cosine_similarity(x, y), p = series_pearson_correlation(x, y)", reg)
      .collect().head
    assert(r.getDouble(0) == 28.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    // anti-correlated: pearson exactly -1, cosine still positive
    val reg2 = Map("T" -> Seq((Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0))).toDF("x", "y"))
    val r2 = KqlParser.run(
      "T | project p = series_pearson_correlation(x, y), c = series_cosine_similarity(x, y)", reg2)
      .collect().head
    assert(math.abs(r2.getDouble(0) + 1.0) < 1e-12)
    assert(math.abs(r2.getDouble(1) - 10.0 / 14.0) < 1e-12)
  }

  test("parser: ipv4 tier — parse/mask/range/compare edge semantics") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    assert(one("parse_ipv4('1.2.3.4')").getLong(0) == 16909060L)
    assert(one("parse_ipv4('256.1.1.1')").isNullAt(0))     // octet out of range
    assert(one("parse_ipv4('1.2.3')").isNullAt(0))         // three octets
    assert(one("parse_ipv4('a.b.c.d')").isNullAt(0))       // non-numeric
    assert(one("parse_ipv4_mask('10.1.2.3', 8)").getLong(0) == 10L * 16777216)
    assert(one("format_ipv4(16909060)").getString(0) == "1.2.3.4")
    assert(one("format_ipv4(4294967296)").isNullAt(0))     // > 32 bits: null, not wrap
    assert(one("ipv4_is_in_range('10.200.0.1', '10.0.0.0/8')").getBoolean(0))
    assert(!one("ipv4_is_in_range('11.0.0.1', '10.0.0.0/8')").getBoolean(0))
    assert(one("ipv4_is_in_range('255.0.0.1', '0.0.0.0/0')").getBoolean(0)) // /0 is everything
    assert(one("ipv4_is_in_range('10.0.0.1', '10.0.0.1')").getBoolean(0))   // plain IP = /32
    assert(one("ipv4_is_private('172.31.255.255')").getBoolean(0))
    assert(!one("ipv4_is_private('172.32.0.0')").getBoolean(0)) // first past the /12
    assert(one("ipv4_compare('1.2.3.5', '1.2.3.4')").getInt(0) == 1)
    assert(one("ipv4_compare('1.2.3.5', '1.2.3.4', 24)").getInt(0) == 0) // equal at /24
    assert(one("ipv4_netmask_suffix('10.0.0.0/8')").getInt(0) == 8)
    assert(one("ipv4_netmask_suffix('10.0.0.1')").getInt(0) == 32)
  }

  test("parser: parse_url/parse_path/parse_version edge semantics") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    // no port / no userinfo / no query / no fragment → '' fields
    val r = KqlParser.run(
      "T | extend p = parse_url('https://example.com/a') " +
        "| project s = p.Scheme, h = p.Host, po = p.Port, u = p.Username, f = p.Fragment", reg)
      .collect().head
    assert(r.getString(0) == "https" && r.getString(1) == "example.com")
    assert(r.getString(2) == "" && r.getString(3) == "" && r.getString(4) == "")
    assert(one("parse_urlquery('a=1&b=2')['b']").getString(0) == "2")
    // dotted dir component must not leak into the extension
    val pp = KqlParser.run(
      "T | extend p = parse_path('/root/x.y/z') " +
        "| project e = p.Extension, f = p.Filename, d = p.DirectoryName", reg).collect().head
    assert(pp.getString(0) == "" && pp.getString(1) == "z" && pp.getString(2) == "x.y")
    // version ordering across part widths; 5 parts / 9 digits → null
    assert(one("parse_version('1.2.3.4')").getDecimal(0)
      .compareTo(new java.math.BigDecimal("1000000020000000300000004")) == 0)
    assert(one("parse_version('0.10.0') > parse_version('0.9.9999')").getBoolean(0))
    assert(one("parse_version('1.2.3.4.5')").isNullAt(0))
    assert(one("parse_version('123456789')").isNullAt(0))
  }

  test("parser: parse_user_agent ancestor-token masking and version extraction") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def ua(s: String, t: String, path: String) = KqlParser.run(
      s"T | extend p = parse_user_agent('$s', '$t') | project v = tostring(p.$path)", reg)
      .collect().head
    // Edge embeds Chrome AND Safari tokens — order must mask them
    val edge = "Mozilla/5.0 (Windows NT 10.0) Chrome/124.0.0.0 Safari/537.36 Edg/124.0.2478.51"
    assert(ua(edge, "browser", "Browser.Family").getString(0) == "Edge")
    assert(ua(edge, "browser", "Browser.MajorVersion").getString(0) == "124")
    // plain Chrome still embeds Safari
    val chrome = "Mozilla/5.0 (X11; Linux x86_64) Chrome/123.0.0.0 Safari/537.36"
    assert(ua(chrome, "browser", "Browser.Family").getString(0) == "Chrome")
    assert(ua(chrome, "os", "OperatingSystem.Family").getString(0) == "Linux")
    // iOS underscore versions; 'like Mac OS X' must not read as macOS
    val ios = "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) Version/17.4 Safari/604.1"
    assert(ua(ios, "os", "OperatingSystem.Family").getString(0) == "iOS")
    assert(ua(ios, "os", "OperatingSystem.MajorVersion").getString(0) == "17")
    assert(ua(ios, "browser", "Browser.MinorVersion").getString(0) == "4")
    // unknown agent: Other family, absent versions are null
    assert(ua("curl/8.5.0", "browser", "Browser.Family").getString(0) == "Other")
    assert(ua("curl/8.5.0", "browser", "Browser.MajorVersion").isNullAt(0))
    // unsupported looking_for rejects loudly
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | project v = parse_user_agent('x', 'device')", reg)
    }
    assert(e.getMessage.contains("'browser' or 'os'"))
  }

  test("parser: evaluate active_users_count — distinct-period threshold per bin") {
    import java.sql.Timestamp
    def ts(d: Int, h: Int = 0) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // u1: days 1,2,3 → 3 distinct periods in any 3d window covering them.
    // u2: days 1,1,1 (three events, ONE period) → never qualifies at k=2.
    // u3: days 2,4 → 2 distinct periods only in windows covering both.
    val reg = Map("E" -> Seq(
      (1L, ts(1, 6)), (1L, ts(2, 6)), (1L, ts(3, 6)),
      (2L, ts(1, 1)), (2L, ts(1, 12)), (2L, ts(1, 23)),
      (3L, ts(2, 6)), (3L, ts(4, 6))).toDF("uid", "t"))
    val out = KqlParser.run(
      "E | evaluate active_users_count(uid, t, datetime(2024-01-02), datetime(2024-01-06), 3d, 1d, 2, 1d)" +
        " | sort by bin_ms asc", reg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def binMs(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00").getTime
    // bin Jan-2 00:00 window (Dec-30, Jan-2]: only day-1 events → nobody
    assert(!out.contains(binMs(2)))
    // Jan-3 window (Dec-31, Jan-3]: u1 has days 1,2 → qualifies; u2 one period; u3 one
    assert(out(binMs(3)) == 1)
    // Jan-5 window (Jan-2, Jan-5]: u1 days 2,3; u3 days 2,4 → both qualify
    assert(out(binMs(5)) == 2)
    // Jan-6 window (Jan-3, Jan-6]: u3 day 4 only; u1 day 3 only → nobody
    assert(!out.contains(binMs(6)))
  }

  test("parser: dcount_intersect estimates overlap via inclusion-exclusion") {
    // A = 0..2999, B = 2000..4999 → true intersection 1000
    val reg = Map("T" -> ((0 until 3000).map(i => (i.toLong, "a")) ++
      (2000 until 5000).map(i => (i.toLong, "b"))).toDF("v", "g"))
    // per-group sketches pivoted into one row (each minif sees exactly
    // one sketch), then inclusion-exclusion
    val est = KqlParser.run(
      "T | summarize h = hll(v, 14) by g | summarize a = minif(h, g == 'a'), b = minif(h, g == 'b')" +
        " | project x = dcount_intersect(a, b)", reg)
    val v = est.collect().head.getLong(0)
    assert(math.abs(v - 1000) <= 100, s"intersection estimate $v")
  }

  test("parser: hll/hll_merge/dcount_hll — estimate accuracy and merge-vs-direct equality") {
    val reg = Map("T" -> (0 until 5000).map(i => (i.toLong, s"g${i % 4}")).toDF("v", "g"))
    // per-group estimate within 5% of truth (1250 distinct each)
    val per = KqlParser.run(
      "T | summarize h = hll(v, 12) by g | extend est = dcount_hll(h) | project g, est", reg)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per.size == 4 && per.values.forall(e => math.abs(e - 1250) <= 63))
    // merging the per-group sketches == sketching the whole column directly
    val merged = KqlParser.run(
      "T | summarize h = hll(v, 12) by g | summarize m = hll_merge(h) " +
        "| project est = dcount_hll(m)", reg).collect().head.getLong(0)
    val direct = KqlParser.run(
      "T | summarize h = hll(v, 12) | project est = dcount_hll(h)", reg)
      .collect().head.getLong(0)
    assert(merged == direct && math.abs(merged - 5000) <= 250)
  }

  test("parser: evaluate sequence_detect — ordered chain, step window, span cap, greedy anchor") {
    import java.sql.Timestamp
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val reg = Map("E" -> Seq(
      // u1: a → b (2h later) → c (2h later): completes
      (1L, ts(1, 0), "a"), (1L, ts(1, 2), "b"), (1L, ts(1, 4), "c"),
      // u2: b before a — order violated, no chain
      (2L, ts(1, 2), "b"), (2L, ts(1, 4), "a"), (2L, ts(1, 6), "c"),
      // u3: a → b but b is 2 DAYS later — outside the 1d step window
      (3L, ts(1, 0), "a"), (3L, ts(3, 0), "b"), (3L, ts(3, 1), "c"),
      // u4: steps adjacent-ok but total span breaches the 1d span cap
      (4L, ts(1, 0), "a"), (4L, ts(1, 20), "b"), (4L, ts(2, 10), "c"),
      // u5: greedy anchor — first 'a' at 00:00 has no b within 1d, but a
      // later 'a' on day 3 would chain; the greedy deviation drops u5
      (5L, ts(1, 0), "a"), (5L, ts(3, 0), "a"), (5L, ts(3, 2), "b"), (5L, ts(3, 4), "c")
    ).toDF("uid", "t", "k"))
    val out = KqlParser.run(
      "E | extend sa = k == 'a', sb = k == 'b', sc = k == 'c' " +
        "| evaluate sequence_detect(t, 1d, 1d, sa, sb, sc, uid)", reg)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == ((ts(1, 0).getTime, ts(1, 2).getTime, ts(1, 4).getTime)))
  }

  test("parser: evaluate ipv4_lookup — longest prefix wins, unmatched drop, dup networks rejected") {
    val reg = Map(
      "T" -> Seq("10.1.2.3", "10.200.0.1", "192.168.0.9", "8.8.8.8").map(Tuple1(_)).toDF("ip"),
      "N" -> Seq(("10.0.0.0/8", "wide"), ("10.1.0.0/16", "narrow"),
        ("192.168.0.9", "host")).toDF("network", "zone"))
    val out = KqlParser.run("T | evaluate ipv4_lookup(N, ip, network)", reg)
      .collect().map(r => r.getAs[String]("ip") -> r.getAs[String]("zone")).toMap
    assert(out == Map(
      "10.1.2.3" -> "narrow",    // /16 beats /8
      "10.200.0.1" -> "wide",
      "192.168.0.9" -> "host"))  // plain IP acts as /32; 8.8.8.8 unmatched → dropped
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | evaluate ipv4_lookup(D, ip, network)", reg ++ Map(
        "D" -> Seq(("10.0.0.0/8", "a"), ("10.0.0.0/8", "b")).toDF("network", "zone")))
    }
    assert(e.getMessage.contains("unique"))
  }

  test("parser: set/array manipulation tier — set ops, rotate, shift, slice, iif") {
    val reg = Map("T" -> Seq((Seq(1L, 2L, 3L, 2L), Seq(2L, 4L))).toDF("a", "b"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    assert(one("array_sort_asc(set_union(a, b))").getSeq[Long](0) == Seq(1L, 2L, 3L, 4L))
    assert(one("set_intersect(a, b)").getSeq[Long](0) == Seq(2L))
    assert(one("array_sort_asc(set_difference(a, b))").getSeq[Long](0) == Seq(1L, 3L))
    assert(one("set_has_element(a, 3)").getBoolean(0))
    assert(!one("set_has_element(b, 3)").getBoolean(0))
    assert(one("array_rotate_left(a, 1)").getSeq[Long](0) == Seq(2L, 3L, 2L, 1L))
    assert(one("array_rotate_right(a, 1)").getSeq[Long](0) == Seq(2L, 1L, 2L, 3L))
    assert(one("array_rotate_left(a, -1)").getSeq[Long](0) == Seq(2L, 1L, 2L, 3L))
    assert(one("array_rotate_left(a, 5)").getSeq[Long](0) == Seq(2L, 3L, 2L, 1L)) // mod size
    assert(one("array_shift_left(a, 1)").getSeq[Any](0) == Seq(2L, 3L, 2L, null))
    assert(one("array_shift_left(a, 1, 0)").getSeq[Long](0) == Seq(2L, 3L, 2L, 0L))
    assert(one("array_shift_right(a, 2, 9)").getSeq[Long](0) == Seq(9L, 9L, 1L, 2L))
    // fill replaces only VACATED slots: a genuine null ELEMENT carried
    // from the source array ([1, null, 3] via the short-ifFalse iff)
    // shifts through untouched (ADX semantics; a coalesce would 0 it)
    assert(one("array_shift_left(array_iff(pack_array(true, false, true), " +
      "pack_array(1, 2, 3), pack_array(1)), 1, 0)")
      .getSeq[Any](0) == Seq(null, 3, 0))
    assert(one("array_slice(a, 1, 2)").getSeq[Long](0) == Seq(2L, 3L))
    assert(one("array_slice(a, -2, -1)").getSeq[Long](0) == Seq(3L, 2L)) // wrap from end
    assert(one("array_slice(a, 2, 1)").getSeq[Long](0) == Seq.empty)    // inverted → empty
    val iif = KqlParser.run(
      "T | extend c = pack_array(true, false, tobool(null), false) " +
        "| project v = array_iff(c, a, b)", reg).collect().head.getSeq[Any](0)
    assert(iif == Seq(1L, 4L, null, null)) // null cond → null; short b → null
  }

  test("parser: case-sensitive _cs operators, matches regex, in~ and their negations") {
    val reg = Map("T" -> Seq("Spark GO", "spark go", "xSparky").map(Tuple1(_)).toDF("s"))
    def keep(q: String) = KqlParser.run(s"T | where $q | project s", reg)
      .collect().map(_.getString(0)).toSet
    assert(keep("s contains_cs 'Spark'") == Set("Spark GO", "xSparky"))
    assert(keep("s !contains_cs 'Spark'") == Set("spark go"))
    assert(keep("s has_cs 'GO'") == Set("Spark GO"))        // whole-term, exact case
    assert(keep("s has 'go'") == Set("Spark GO", "spark go")) // ci has unaffected
    assert(keep("s startswith_cs 'Spark'") == Set("Spark GO"))
    assert(keep("s endswith_cs 'go'") == Set("spark go"))
    assert(keep("s matches regex '^[a-z]+ '") == Set("spark go"))
    assert(keep("s in~ ('SPARK GO')") == Set("Spark GO", "spark go"))
    assert(keep("s !in~ ('SPARK GO')") == Set("xSparky"))
  }

  test("parser: mv-expand with_itemindex emits 0-based positions") {
    val reg = Map("T" -> Seq((1L, Seq("a", "b", "c"))).toDF("id", "xs"))
    val out = KqlParser.run(
      "T | mv-expand with_itemindex=ix xs | project id, ix, xs", reg)
      .collect().map(r => (r.getInt(1), r.getString(2)))
    assert(out.toSeq == Seq((0, "a"), (1, "b"), (2, "c")))
    // with a cast: non-conforming elements null, index still advances
    val reg2 = Map("T" -> Seq(Tuple1(Seq("1", "x", "3"))).toDF("xs"))
    val out2 = KqlParser.run(
      "T | mv-expand with_itemindex=ix v = xs to typeof(long) | project ix, v", reg2)
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(out2.toSeq == Seq((0, 1L), (1, -1L), (2, 3L)))
  }

  test("parser: session_count matches a plain-Scala reference on random event streams") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(99)
    val base = Timestamp.valueOf("2024-01-02 00:00:00").getTime
    // 25 users, 300 events over 12 days at 10-minute granularity —
    // includes pre-timeline suppression context before the Jan-4 start
    val data = (1 to 300).map { _ =>
      (rnd.nextInt(25).toLong,
        new Timestamp(base + rnd.nextInt(12 * 144) * 600000L))
    }.distinct
    val out = KqlParser.run(
      "E | evaluate session_count(uid, t, datetime(2024-01-04), datetime(2024-01-12), 1d, 1d)",
      Map("E" -> data.toDF("uid", "t")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val startMs = Timestamp.valueOf("2024-01-04 00:00:00").getTime
    val endMs = Timestamp.valueOf("2024-01-12 00:00:00").getTime
    val lookMs = 86400000L
    val expected = data.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ts = rows.map(_._2.getTime).sorted
      ts.zip(None +: ts.init.map(Some(_))).collect {
        case (t, prev) if t >= startMs && t <= endMs &&
          prev.forall(p => t - p > lookMs) =>
          startMs + ((t - startMs) / 86400000L) * 86400000L
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out == expected && expected.nonEmpty)
  }

  test("parser: funnel_sequence_completion — per-bin prefix counts are monotone non-increasing") {
    val out = KqlParser.run(
      "E | extend sv = event_type == 'view', sc = event_type == 'click', sp = event_type == 'purchase' " +
        "| evaluate funnel_sequence_completion(ts, 7d, datetime(2024-01-01), datetime(2024-01-29), 7d, sv, sc, sp, user_id)",
      Map("E" -> graft.ops.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.nonEmpty)
    // within a bin, completing prefix p+1 implies completing prefix p
    // (the chain frames nest), so counts can only shrink with p
    out.groupBy(_._1).foreach { case (_, rows) =>
      val byPrefix = rows.map(r => r._2 -> r._3).toMap
      (1 until 3).foreach { p =>
        assert(byPrefix.getOrElse(p + 1, 0L) <= byPrefix.getOrElse(p, Long.MaxValue))
      }
    }
  }

  test("parser: evaluate session_count — gap-defined session starts per bin") {
    import java.sql.Timestamp
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val reg = Map("E" -> Seq(
      // u1: run on day 2 (2 events 1h apart = ONE session), new session day 5
      (1L, ts(2, 1)), (1L, ts(2, 2)), (1L, ts(5, 0)),
      // u2: pre-timeline event on day 1 23:00 SUPPRESSES the day 2 00:30
      // event (gap 1.5h < 1d); next event day 4 starts a session
      (2L, ts(1, 23)), (2L, ts(2, 0)), (2L, ts(4, 0)),
      // u3: single event, single session
      (3L, ts(3, 0))
    ).toDF("uid", "t"))
    val out = KqlParser.run(
      "E | evaluate session_count(uid, t, datetime(2024-01-02), datetime(2024-01-06), 1d, 1d)" +
        " | sort by bin_ms asc", reg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def binMs(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00").getTime
    assert(out(binMs(2)) == 1)              // u1 only (u2 suppressed by day-1 23:00)
    assert(out(binMs(3)) == 1)              // u3
    assert(out(binMs(4)) == 1)              // u2's second session
    assert(out(binMs(5)) == 1)              // u1's second session
    assert(out.values.sum == 4)
  }

  test("parser: zip pairs, repeat builds arrays, gettype reports Spark type names") {
    val reg = Map("T" -> Seq(Tuple1(1L)).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    assert(one("zip(pack_array(1, 2), pack_array(10, 20))").getSeq[scala.collection.Seq[Int]](0)
      .map(_.toList).toList == List(List(1, 10), List(2, 20)))
    assert(one("repeat('ab', 3)").getSeq[String](0) == Seq("ab", "ab", "ab"))
    assert(one("gettype('s')").getString(0) == "string")
    assert(one("gettype(x)").getString(0) == "bigint") // Spark name, documented deviation
  }

  test("parser: translate arg order, max_of/min_of, exp2/exp10, strcat_array, isinf") {
    val reg = Map("T" -> Seq(Tuple1("abcabc")).toDF("s"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    assert(one("translate('ab', 'xy', s)").getString(0) == "xycxyc") // source is LAST in ADX
    assert(one("max_of(3, 7, 5)").getInt(0) == 7)
    assert(one("min_of(3, 7, 5)").getInt(0) == 3)
    assert(one("exp2(10)").getDouble(0) == 1024.0)
    assert(one("exp10(3)").getDouble(0) == 1000.0)
    assert(one("strcat_array(pack_array(1, 2, 3), '-')").getString(0) == "1-2-3")
    assert(one("isinf(todouble('-Infinity'))").getBoolean(0))
    assert(!one("isinf(1.5)").getBoolean(0))
    assert(one("isfinite(1.5)").getBoolean(0))
    assert(!one("isfinite(todouble('NaN'))").getBoolean(0)) // NaN is not finite
  }

  test("parser: population/conditional aggregates — stdevp, variancep, covariance, make_list_if") {
    val reg = Map("T" -> Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y"))
    val r = KqlParser.run(
      "T | summarize vp = variancep(x), sp = stdevp(x), cv = covariance(x, y), " +
        "cp = covariancep(x, y), ml = make_list_if(x, x >= 2), ms = make_set_if(x, x >= 2)", reg)
      .collect().head
    assert(math.abs(r.getDouble(0) - 2.0 / 3) < 1e-12)      // population variance
    assert(math.abs(r.getDouble(1) - math.sqrt(2.0 / 3)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-12)          // sample covariance
    assert(math.abs(r.getDouble(3) - 4.0 / 3) < 1e-12)      // population covariance
    assert(r.getSeq[Double](4).sorted == Seq(2.0, 3.0))
    assert(r.getSeq[Double](5).sorted == Seq(2.0, 3.0))
  }

  test("parser: search in (T1, T2) term — multi-table ci substring with source_ tags") {
    val reg = Map(
      "A" -> Seq((1L, "Spark rocks"), (2L, "plain")).toDF("id", "txt"),
      "B" -> Seq((3L, "spark too", "extra")).toDF("id", "txt", "note"))
    val out = KqlParser.run("search in (A, B) 'SPARK' | project source_, id", reg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("A", 1L), ("B", 3L)))
  }

  test("parser: find unions matches across tables with source_ tags; unknown table rejected") {
    val reg = Map(
      "A" -> Seq((1L, "x"), (2L, "y")).toDF("id", "tag"),
      "B" -> Seq((3L, "x", 9L)).toDF("id", "tag", "extra"))
    val out = KqlParser.run("find in (A, B) where tag == 'x'", reg).collect()
      .map(r => (r.getAs[String]("source_"), r.getAs[Long]("id"),
        Option(r.getAs[Any]("extra")))).toSet
    assert(out == Set(("A", 1L, None), ("B", 3L, Some(9L))))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("find in (A, C) where tag == 'x'", reg)
    }
    assert(e.getMessage.contains("unknown table"))
  }

  test("parser: floor(value, roundTo) is bin — not Spark's digit-scale floor") {
    val reg = Map("T" -> Seq(12.7, -3.2, 125.0).map(Tuple1(_)).toDF("v"))
    val out = KqlParser.run("T | project b = floor(v, 5)", reg)
      .collect().map(_.getDouble(0)).toSet
    assert(out == Set(10.0, -5.0, 125.0))
  }

  test("parser: percentiles_array returns one exact-percentile array cell") {
    val reg = Map("T" -> (1 to 100).map(i => Tuple1(i.toDouble)).toDF("v"))
    val r = KqlParser.run("T | summarize p = percentiles_array(v, 25, 50, 75)", reg)
      .collect().head.getSeq[Double](0)
    assert(r == Seq(25.75, 50.5, 75.25)) // exact linear interpolation
  }

  test("parser: percentilew weights rows by frequency") {
    // values 1..4 with weight 1 except value 4 weighted 7: the weighted
    // 50th percentile lands on 4 (unweighted it would be 2.5).
    val reg = Map("T" -> Seq((1.0, 1), (2.0, 1), (3.0, 1), (4.0, 7)).toDF("v", "w"))
    val r = KqlParser.run("T | summarize p = percentilew(v, w, 50)", reg).collect().head
    assert(r.getDouble(0) == 4.0)
    val u = KqlParser.run("T | summarize p = percentile(v, 50)", reg).collect().head
    assert(u.getDouble(0) == 2.5)
  }

  test("parser: percentilesw_array — weighted percentiles in one cell") {
    val reg = Map("T" -> Seq((1.0, 1), (2.0, 1), (3.0, 1), (4.0, 7)).toDF("v", "w"))
    val r = KqlParser.run(
      "T | summarize p = percentilesw_array(v, w, 25, 50, 95)", reg).collect().head
    val arr = r.getSeq[Double](0)
    assert(arr.length == 3 && arr(1) == 4.0 && arr(2) == 4.0)
    // unweighted sibling disagrees at the median (2.5) — the weight arm matters
    val u = KqlParser.run(
      "T | summarize p = percentiles_array(v, 25, 50, 95)", reg).collect().head
    assert(u.getSeq[Double](0)(1) == 2.5)
  }

  test("parser: series_decompose / _anomalies — moving-average trend, k-sigma flags") {
    // 4 points: every 7-point window clamps to the whole array, so the
    // trend is flat 2.0 and the residual is y - 2.
    val reg = Map("T" -> Seq(Tuple1(Seq(0.0, 0.0, 0.0, 8.0))).toDF("y"))
    val d = KqlParser.run(
      "T | extend d = series_decompose(y) " +
        "| project t = d.trend, s = d.seasonal, r = d.residual, b = d.baseline", reg)
      .collect().head
    assert(d.getSeq[Double](0) == Seq(2.0, 2.0, 2.0, 2.0))
    assert(d.getSeq[Double](1) == Seq(0.0, 0.0, 0.0, 0.0))
    assert(d.getSeq[Double](2) == Seq(-2.0, -2.0, -2.0, 6.0))
    assert(d.getSeq[Double](3) == d.getSeq[Double](0))
    // residual [-2,-2,-2,6]: sd = sqrt(48/4) = 2*sqrt(3) ~ 3.46; only the
    // +6 point exceeds 1.5*sd ~ 5.196.
    val a = KqlParser.run(
      "T | extend a = series_decompose_anomalies(y, 1.5) " +
        "| project f = a.ad_flag, s = a.ad_score, b = a.baseline", reg).collect().head
    assert(a.getSeq[Int](0) == Seq(0, 0, 0, 1))
    assert(math.abs(a.getSeq[Double](1)(3) - 6.0 / math.sqrt(12.0)) < 1e-12)
    assert(a.getSeq[Double](2) == Seq(2.0, 2.0, 2.0, 2.0))
    // default threshold is 1.5 (same flags with the argument omitted)
    val a2 = KqlParser.run(
      "T | extend a = series_decompose_anomalies(y) | project f = a.ad_flag", reg)
      .collect().head
    assert(a2.getSeq[Int](0) == Seq(0, 0, 0, 1))
    // tighter threshold flags the negatives too
    val a3 = KqlParser.run(
      "T | extend a = series_decompose_anomalies(y, 0.5) | project f = a.ad_flag", reg)
      .collect().head
    assert(a3.getSeq[Int](0) == Seq(-1, -1, -1, 1))
  }

  test("parser: top-hitters ranks keys by count or by sum") {
    val reg = Map("T" -> Seq(
      ("a", 10), ("a", 1), ("b", 100), ("c", 1), ("c", 1), ("c", 1)).toDF("g", "v"))
    val byCount = KqlParser.run("T | top-hitters 2 of g", reg).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(byCount == Seq(("c", 3L), ("a", 2L))) // ordered desc
    val bySum = KqlParser.run("T | top-hitters 2 of g by v", reg)
    assert(bySum.columns.toSeq == Seq("g", "approximate_sum_v"))
    assert(bySum.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("b", 100L), ("a", 11L)))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | top-hitters of g", reg)
    }
    assert(e.getMessage.contains("top-hitters"))
  }

  test("parser: evaluate pivot spreads values into columns") {
    val reg = Map("T" -> Seq(
      (1L, "x", 10), (1L, "y", 20), (2L, "x", 5), (1L, "x", 3)).toDF("id", "k", "v"))
    val out = KqlParser.run("T | evaluate pivot(k, sum(v))", reg)
    assert(out.columns.toSeq == Seq("id", "x", "y"))
    val m = out.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)),
       if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(m(1L) == ((Some(13L), Some(20L))))
    assert(m(2L) == ((Some(5L), None))) // absent cell is null
    // default aggregation is count(); explicit group columns narrow the key
    val cnt = KqlParser.run("T | evaluate pivot(k)", reg)
    assert(cnt.columns.toSeq == Seq("id", "v", "x", "y"))
    val narrow = KqlParser.run("T | evaluate pivot(k, sum(v), id)", reg)
    assert(narrow.columns.toSeq == Seq("id", "x", "y"))
    // bag_unpack/autocluster/basket/narrow are supported since r10/r11
    // — an UNKNOWN plugin still rejects loudly, naming the supported set
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | evaluate schema_merge()", reg)
    }
    assert(e.getMessage.contains("pivot") && e.getMessage.contains("bag_unpack"))
  }

  test("parser: evaluate binds the exact plugin name, never a prefix of it") {
    val reg = Map("T" -> Seq((1L, "x", 10)).toDF("id", "k", "v"))
    Seq("basketball(0.1)", "pivoted(k)", "previewx(3)").foreach { call =>
      val e = intercept[IllegalArgumentException](KqlParser.run(s"T | evaluate $call", reg))
      assert(e.getMessage.contains("supports only"), s"$call: ${e.getMessage}")
    }
  }

  test("parser: every evaluate plugin rejects a malformed call by name") {
    // no parentheses, unbalanced ones, and one argument too many (too
    // few for the variadic plugins) are binding errors that name the
    // plugin, before any plugin reads an argument
    val reg = Map("T" -> Seq((1L, "x")).toDF("id", "k"))
    assert(KqlParser.evalPlugins.size == 20)
    KqlParser.evalPlugins.foreach { case (name, p) =>
      val n = if (p.maxArgs < Int.MaxValue) p.maxArgs + 1 else p.minArgs - 1
      Seq(name, s"$name(x", s"$name(x))", s"$name(${Seq.fill(n)("x").mkString(", ")})")
        .foreach { call =>
          val e = intercept[IllegalArgumentException](KqlParser.run(s"T | evaluate $call", reg))
          assert(e.getMessage.contains(s"evaluate $name "), s"$call: ${e.getMessage}")
        }
    }
  }

  test("parser: every scalar function rejects a wrong argument count by name") {
    // one argument too many (too few for the variadic ones) is a binding
    // error naming the function, raised before its body reads an
    // argument (intercept fails on any other exception type, an
    // IndexOutOfBoundsException included)
    assert(KqlParser.scalarFns.size == 294)
    KqlParser.scalarFns.foreach { case (name, f) =>
      val n = if (f.maxArgs < Int.MaxValue) f.maxArgs + 1 else f.minArgs - 1
      assert(n >= 0, name)
      val call = s"$name(${Seq.fill(n)("x").mkString(", ")})"
      val e = intercept[IllegalArgumentException](KqlParser.scalar(call))
      assert(e.getMessage.startsWith(s"$name expects "), s"$call: ${e.getMessage}")
    }
    // an unknown series_* name is still rejected, listing the table's
    val e = intercept[IllegalArgumentException](KqlParser.scalar("series_cross_correlate(a)"))
    assert(e.getMessage.contains("unsupported series function") &&
      e.getMessage.contains("series_fir"))
    // any other name outside the table passes through to Spark SQL
    assert(KqlParser.scalar("sqrt(x)") == "sqrt(x)")
    assert(KqlParser.scalar("abs(x)") == "abs(x)")
  }

  test("parser: a backslash-escaped quote stays inside its string literal") {
    val reg = Map("T" -> Seq(("don't has it", 3), ("it's bin(x)", 5), ("plain", 7))
      .toDF("msg", "x"))
    def xs(q: String) = KqlParser.run(q, reg).select("x").as[Int].collect().toSeq.sorted
    // the literal's `has` and `bin(` are text, not an operator or a call
    assert(xs("""T | where msg == 'don\'t has it'""") == Seq(3))
    assert(KqlParser.run("""T | where x == 5 | extend n = strlen('it\'s bin(x)') | project n""",
      reg).as[Int].collect().toSeq == Seq(11))
    // the infix operators take the whole escaped literal
    assert(xs("""T | where msg contains 'it\'s'""") == Seq(5))
    assert(xs("""T | where msg has 'don\'t'""") == Seq(3))
    assert(xs("""T | where msg =~ 'DON\'T HAS IT'""") == Seq(3))
    // a let reference after the literal is substituted; the literal is not
    assert(KqlParser.run("""let t = 5; let u = strcat('it\'s t', '/', t); """ +
        "T | where x == 3 | project u", reg).as[String].collect().toSeq == Seq("it's t/5"))
  }

  test("parser: a word stops at '!', so `t!=3` reads like `t != 3`") {
    val reg = Map("T" -> Seq((1, "a b"), (3, "c"), (5, "a")).toDF("amount", "s"))
    def amounts(q: String) = KqlParser.run(q, reg).select("amount").as[Int].collect().toSeq.sorted
    assert(amounts("let t = 3; T | where t!=amount") == Seq(1, 5))
    assert(amounts("let t = 3; T | where t!=amount") == amounts("let t = 3; T | where t != amount"))
    assert(amounts("T | where s!has 'a'") == Seq(3))
    assert(amounts("T | where amount!in (1, 5)") == Seq(3))
  }

  test("parser: an impossible datetime literal is an IllegalArgumentException naming the plugin") {
    val reg = Map("E" -> Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
      .toDF("uid", "t"))
    val e = intercept[IllegalArgumentException](KqlParser.run(
      "E | evaluate session_count(uid, t, datetime(2024-02-30), datetime(2024-03-02), 1d, 1d)",
      reg))
    assert(e.getMessage.contains("session_count") && e.getMessage.contains("2024-02-30"))
  }

  test("parser: a timespan literal past a Long of seconds is an IllegalArgumentException") {
    // 213503982334602d is 2^64 + 61184 seconds: wrapped, it is a 17-hour step
    val reg = Map("E" -> Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
      .toDF("uid", "t"))
    val step = intercept[IllegalArgumentException](KqlParser.run(
      "E | make-series n = count() on t from datetime(2024-01-01) to datetime(2024-01-03) " +
        "step 213503982334602d", reg))
    assert(step.getMessage.contains("make-series") &&
      step.getMessage.contains("213503982334602d"))
    val ago = intercept[IllegalArgumentException](
      KqlParser.run("print x = ago(106751991167301d)", Map.empty))
    assert(ago.getMessage.contains("ago") && ago.getMessage.contains("106751991167301d"))
    val window = intercept[IllegalArgumentException](KqlParser.run(
      "E | evaluate session_count(uid, t, datetime(2024-01-01), datetime(2024-01-03), 1d, " +
        "106751991167301d)", reg))
    assert(window.getMessage.contains("session_count") &&
      window.getMessage.contains("106751991167301d"))
  }

  test("parser: a row_window_session window past a Long of microseconds is an IllegalArgumentException") {
    // 106751991167d fits a Long in seconds but not in microseconds:
    // wrapped, the max window goes negative and every row opens a session
    val reg = Map("T" -> Seq((1, "2024-01-01 00:00:00"), (2, "2024-01-01 03:00:00"),
      (3, "2024-01-02 00:00:00")).toDF("i", "s"))
    val e = intercept[IllegalArgumentException](KqlParser.run(
      "T | extend ts = todatetime(s) | sort by i asc " +
        "| extend sb = row_window_session(ts, 106751991167d, 5h)", reg))
    assert(e.getMessage.contains("row_window_session") && e.getMessage.contains("106751991167d"))
  }

  test("parser: a make-series step of zero is an IllegalArgumentException at translation") {
    val reg = Map("E" -> Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 05:00:00")))
      .toDF("uid", "t"))
    val e = intercept[IllegalArgumentException](KqlParser.run(
      "E | make-series n = count() on t from datetime(2024-01-01) to datetime(2024-01-03) step 0d", reg))
    assert(e.getMessage.contains("make-series step") && e.getMessage.contains("0d"))
  }

  test("parser: row_rank_min/dense rank over RUNS in serialized order, not by value") {
    // term 5 reappears after 9: ADX starts a NEW run (SQL rank-by-term
    // would give it rank 1 again — the difference under test)
    val reg = Map("T" -> Seq((1, 5), (2, 5), (3, 9), (4, 5)).toDF("id", "t"))
    val out = KqlParser.run(
      "T | sort by id asc | extend rm = row_rank_min(t), rd = row_rank_dense(t)" +
        " | project id, rm, rd", reg)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(out == Seq((1, 1, 1), (2, 1, 1), (3, 3, 2), (4, 4, 3)))
    // ties in the sort key: the classic ranking shape matches SQL rank
    val tied = Map("S" -> Seq((1, 10), (2, 10), (3, 7), (4, 7), (5, 3)).toDF("id", "v"))
    val rk = KqlParser.run(
      "S | sort by v desc | extend rm = row_rank_min(v), rd = row_rank_dense(v)" +
        " | project id, rm, rd", tied)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(rk == Set((1, 1, 1), (2, 1, 1), (3, 3, 2), (4, 3, 2), (5, 5, 3)))
    // unserialized frame rejects loudly, like the other row functions
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend r = row_rank_min(t)", reg)
    }
    assert(e.getMessage.contains("serialized"))
  }

  test("parser: row_cumsum restart argument resets the accumulation") {
    val reg = Map("T" -> Seq(
      (1, 10, false), (2, 20, false), (3, 5, true), (4, 7, false), (5, 1, true)
    ).toDF("i", "v", "r"))
    val out = KqlParser.run(
      "T | sort by i asc | serialize c = row_cumsum(v, r) | project i, c", reg)
      .collect().map(_.getLong(1)).toSeq
    assert(out == Seq(10L, 30L, 5L, 12L, 1L))
    // helper group-id columns must not leak into the output schema
    val cols = KqlParser.run(
      "T | sort by i asc | serialize c = row_cumsum(v, r)", reg).columns.toSeq
    assert(cols == Seq("i", "v", "r", "c"))
  }

  test("parser: mv-apply where + summarize keeps row columns, adds aggregates") {
    val reg = Map("T" -> Seq(
      ("a", Seq(1, 5, 10)), ("b", Seq(2, 3)), ("c", Seq.empty[Int])).toDF("k", "arr"))
    val out = KqlParser.run(
      "T | mv-apply v = arr to typeof(long) on (where v >= 3 | summarize s = sum(v), n = count(), mx = max(v)) | project k, s, n, mx",
      reg).collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // a: {5,10} → s=15 n=2 mx=10; b: {3} → 3,1,3; c: empty → null,0,null
    assert(out == Set(("a", 15L, 2L, 10L), ("b", 3L, 1L, 3L), ("c", -1L, 0L, -1L)))
  }

  test("parser: mv-apply without summarize explodes surviving elements") {
    val reg = Map("T" -> Seq(("a", Seq(1, 5, 10)), ("b", Seq(2, 3))).toDF("k", "arr"))
    val out = KqlParser.run(
      "T | mv-apply v = arr on (where v >= 3) | project k, v",
      reg).collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("a", 5), ("a", 10), ("b", 3)))
  }

  test("parser: range generates inclusive stepped series, numeric and datetime") {
    val reg = Map.empty[String, org.apache.spark.sql.DataFrame]
    // integer path (distributed spark.range): on-step stop included
    val ints = KqlParser.run("range x from 1 to 10 step 2", reg)
      .collect().map(_.getLong(0)).toSeq
    assert(ints == Seq(1L, 3L, 5L, 7L, 9L))
    val upTo = KqlParser.run("range x from 0 to 9 step 3", reg)
      .collect().map(_.getLong(0)).toSeq
    assert(upTo == Seq(0L, 3L, 6L, 9L)) // 9 lands on a step → included
    // datetime path (sequence + explode) with a timespan-literal step
    val days = KqlParser.run(
      "range d from datetime(2024-01-01) to datetime(2024-01-04) step 1d | extend ms = unix_millis(d) | project ms",
      reg).collect().map(_.getLong(0)).toSeq
    assert(days == Seq(1704067200000L, 1704153600000L, 1704240000000L, 1704326400000L))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("range x from 1 to 5 step 0", reg)
    }
    assert(e.getMessage.contains("non-zero"))
  }

  test("parser: range output type is BIGINT on both generation paths") {
    // Integer operands via lets fall to the sequence+explode path; the
    // same logical query inlined goes through spark.range (BIGINT). The
    // fallback must widen integral elements so the schema agrees.
    val viaLets = KqlParser.run(
      "let lo = 1; let hi = 10; range x from lo to hi step 2", Map.empty)
    val inlined = KqlParser.run("range x from 1 to 10 step 2",
      Map.empty[String, org.apache.spark.sql.DataFrame])
    assert(viaLets.schema("x").dataType == inlined.schema("x").dataType,
      s"lets path ${viaLets.schema("x").dataType} != literal path ${inlined.schema("x").dataType}")
    assert(inlined.schema("x").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(viaLets.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("parser: a range pipeline binds as a tabular let") {
    val out = KqlParser.run(
      "let axis = range x from 1 to 3 step 1; axis | summarize n = count(), s = sum(x)",
      Map.empty).collect().head
    assert(out.getLong(0) == 3L && out.getLong(1) == 6L)
    // scalar lets over identifiers starting with 'range' stay scalar
    val scalarLet = KqlParser.run(
      "let range_total = 5; print v = range_total + 1", Map.empty).collect().head
    assert(scalarLet.getInt(0) == 6)
  }

  test("parser: mv-apply extend reshapes the element before where/summarize") {
    val reg = Map("T" -> Seq(
      ("a", Seq(1, 5, 10)), ("b", Seq(2, 3)), ("c", Seq.empty[Int])).toDF("k", "arr"))
    // extend AFTER where: survivors {5,10}/{3}/{} doubled then summed
    val out = KqlParser.run(
      "T | mv-apply v = arr to typeof(long) on (where v >= 3 | extend w = v * 2 | summarize s = sum(w), n = count()) | project k, s, n",
      reg).collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("a", 30L, 2L), ("b", 6L, 1L), ("c", -1L, 0L)))
    // where AFTER extend sees the reshaped element under its new name
    val chained = KqlParser.run(
      "T | mv-apply v = arr to typeof(long) on (extend w = v * 2 | where w >= 6 | summarize mx = max(w)) | project k, mx",
      reg).collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(chained == Set(("a", 20L), ("b", 6L), ("c", -1L)))
    // explode path carries the reshaped element too
    val exploded = KqlParser.run(
      "T | mv-apply v = arr to typeof(long) on (extend w = v + 100 | where w >= 103) | project k, w",
      reg).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(exploded == Set(("a", 105L), ("a", 110L), ("b", 103L)))
  }

  test("parser: mv-apply extend rejects multi-item and unnamed forms") {
    val reg = Map("T" -> Seq(("a", Seq(1))).toDF("k", "arr"))
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run("T | mv-apply v = arr on (extend w = v, u = v | summarize s = sum(w))", reg)
    }
    assert(e1.getMessage.contains("one item"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("T | mv-apply v = arr on (extend v * 2 | summarize s = sum(v))", reg)
    }
    assert(e2.getMessage.contains("name = expr"))
  }

  test("parser: mv-apply rejects unsupported subverbs and non-element aggs") {
    val reg = Map("T" -> Seq(("a", Seq(1))).toDF("k", "arr"))
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run("T | mv-apply v = arr on (sort by v | summarize s = sum(v))", reg)
    }
    assert(e1.getMessage.contains("where"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("T | mv-apply v = arr on (summarize s = sum(v * 2))", reg)
    }
    assert(e2.getMessage.contains("element itself"))
  }

  test("parser: startofday/month/year truncate; now()/ago() evaluate") {
    val reg = Map("T" -> Seq("2024-03-15 13:45:10").toDF("s")
      .withColumn("ts", to_timestamp(col("s"))))
    val r = KqlParser.run(
      "T | extend d = startofday(ts), m = startofmonth(ts), y = startofyear(ts) | project d, m, y",
      reg).head()
    assert(r.getTimestamp(0).toString == "2024-03-15 00:00:00.0")
    assert(r.getTimestamp(1).toString == "2024-03-01 00:00:00.0")
    assert(r.getTimestamp(2).toString == "2024-01-01 00:00:00.0")
    // ago/now: nondeterministic — assert the relationship, not values
    val a = KqlParser.run("print ok = ago(1h) < now() and ago(1d) < ago(1h)", Map.empty)
    assert(a.head().getBoolean(0))
  }

  test("parser: case() rewrites to CASE WHEN chains") {
    val reg = ordersReg
    val out = KqlParser.run(
      "Orders | extend t = case(amount >= 110, 'hi', amount >= 90, 'mid', 'lo') | project orderid, t",
      reg).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "hi", 2 -> "lo", 3 -> "mid"))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("Orders | extend t = case(amount >= 110, 'hi')", reg)
    }
    assert(e.getMessage.contains("default"))
  }

  test("parser: percentile/stdev/sumif aggregates translate") {
    val reg = Map("T" ->
      Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("b", 10)).toDF("k", "v"))
    val p = KqlParser.run(
      "T | summarize p50 = percentile(v, 50), s = stdev(v), t = sumif(v, k == 'a') by k", reg)
    val row = p.filter(col("k") === "a").head()
    assert(row.getDouble(1) == 2.5)          // exact median of 1,2,3,4
    assert(math.abs(row.getDouble(2) - 1.2909944) < 1e-6)
    assert(row.getLong(3) == 10L)            // sumif over the a-group
    val rowB = p.filter(col("k") === "b").head()
    assert(rowB.isNullAt(3))                 // sumif: no matching rows → null
  }

  test("parser: has survives a term containing the \\E quote terminator") {
    // A hand-built \Q..\E wrapper would end quoting at the embedded \E
    // and treat the tail as raw regex; Pattern.quote must not.
    val reg = Map("T" -> Seq("x c\\ed y", "x ced y").toDF("s"))
    assert(KqlParser.run("""T | where s has 'c\ed' | count""", reg).head().getLong(0) == 1L)
  }

  test("parser: strcat treats null arguments as empty strings (ADX semantics)") {
    val reg = Map("T" -> Seq(("z", Option.empty[String]), ("x", Some("y")))
      .toDF("a", "b"))
    val out = KqlParser.run("T | project s = strcat(a, '-', b) | sort by s asc", reg)
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("x-y", "z-")) // Spark concat alone would null out "z-"
  }

  test("parser: a union operand named kind* is not misparsed as the kind option") {
    val reg = Map(
      "T" -> Seq(("a", 1)).toDF("k", "v"),
      "kindred" -> Seq(("b", 2)).toDF("k", "v"))
    assert(KqlParser.run("T | union kindred | count", reg).head().getLong(0) == 2L)
  }

  test("parser: datetime(...Z) is a UTC instant regardless of session timezone") {
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // 2024-03-01T10:30:00Z = epoch 1709289000; without the Z fix the
      // literal would be read as New York wall-clock (epoch 1709307000).
      val ms = KqlParser.run(
        "print ms = unix_millis(datetime(2024-03-01T10:30:00Z))", Map.empty)
        .head().getLong(0)
      assert(ms == 1709289000000L)
      // zone-less bodies stay session-local (documented)
      val local = KqlParser.run(
        "print ms = unix_millis(datetime(2024-03-01 10:30:00))", Map.empty)
        .head().getLong(0)
      assert(local == 1709307000000L)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("parser: datatable datetime Z cells parse as UTC instants") {
    val out = KqlParser.run(
      """datatable(at:datetime)[datetime(2024-03-01T10:30:00Z)]
        || project ms = unix_millis(at)""".stripMargin, Map.empty)
    assert(out.head().getLong(0) == 1709289000000L)
  }

  test("parser: ADX substring/indexof are 0-based; strrep and base64 round-trip") {
    val out = KqlParser.run(
      """print s = substring('Seattle', 0, 3), t = substring('Seattle', 4),
        |      p = toint(indexof('Seattle', 'e')), p2 = toint(indexof('Seattle', 'e', 2)),
        |      miss = toint(indexof('Seattle', 'z')),
        |      r = strrep('ab', 3), rd = strrep('ab', 2, '-'),
        |      b = base64_encode_tostring('KQL'),
        |      rt = base64_decode_tostring(base64_encode_tostring('héllo'))""".stripMargin,
      Map.empty).head()
    assert(out.getAs[String]("s") == "Sea")     // 0-based start
    assert(out.getAs[String]("t") == "tle")     // to end of string
    assert(out.getAs[Int]("p") == 1)            // 0-based result
    assert(out.getAs[Int]("p2") == 6)           // search from index 2
    assert(out.getAs[Int]("miss") == -1)        // ADX absent marker
    assert(out.getAs[String]("r") == "ababab")
    assert(out.getAs[String]("rd") == "ab-ab")
    assert(out.getAs[String]("b") == "S1FM")
    assert(out.getAs[String]("rt") == "héllo")
  }

  test("parser: hash() is xxhash64-family, deterministic, mod form non-negative") {
    val out = KqlParser.run("print h = hash('abc'), m = hash('abc', 8)", Map.empty).head()
    val expect = spark.sql("SELECT xxhash64('abc') AS h").head().getLong(0)
    assert(out.getAs[Long]("h") == expect)
    val m = out.getAs[Long]("m")
    assert(m >= 0 && m < 8 && m == ((expect % 8) + 8) % 8)
  }

  test("parser: startofweek is Sunday-based; endof* land on the last microsecond") {
    // 2024-03-06 is a Wednesday; the ADX (Sunday-based) week runs
    // 2024-03-03 .. 2024-03-09, and 2024 is a leap year for endofmonth.
    spark.version: Unit // print-root queries need an active session (test isolation)
    val out = KqlParser.run(
      """print sow = unix_millis(startofweek(datetime(2024-03-06 12:00:00))),
        |      eod = unix_millis(endofday(datetime(2024-03-06 12:00:00))),
        |      eom = unix_millis(endofmonth(datetime(2024-02-10))),
        |      eow = unix_millis(endofweek(datetime(2024-03-06))),
        |      dw = dayofweek(datetime(2024-03-06)), wy = week_of_year(datetime(2024-03-06)),
        |      hh = hourofday(datetime(2024-03-06 12:34:56)),
        |      mo = getmonth(datetime(2024-03-06)), yy = getyear(datetime(2024-03-06)),
        |      dm = dayofmonth(datetime(2024-03-06))""".stripMargin,
      Map.empty).head()
    assert(out.getAs[Long]("sow") == 1709424000000L)  // 2024-03-03 00:00:00Z
    assert(out.getAs[Long]("eod") == 1709769599999L)  // 2024-03-06 23:59:59.999999
    assert(out.getAs[Long]("eom") == 1709251199999L)  // 2024-02-29 23:59:59.999999
    assert(out.getAs[Long]("eow") == 1710028799999L)  // 2024-03-09 23:59:59.999999
    assert(out.getAs[Int]("dw") == 3)                 // days since Sunday
    assert(out.getAs[Int]("wy") == 10)                // ISO 8601
    assert(out.getAs[Int]("hh") == 12)
    assert(out.getAs[Int]("mo") == 3)
    assert(out.getAs[Int]("yy") == 2024)
    assert(out.getAs[Int]("dm") == 6)
  }

  test("parser: startofweek/endofweek are identities of the week fixpoints") {
    // A Sunday is its own startofweek; a Saturday's endofweek is that
    // evening — the boundary cases where an off-by-one would bite.
    val out = KqlParser.run(
      """print a = unix_millis(startofweek(datetime(2024-03-03))),
        |      b = unix_millis(endofweek(datetime(2024-03-09 01:00:00)))""".stripMargin,
      Map.empty).head()
    assert(out.getAs[Long]("a") == 1709424000000L)
    assert(out.getAs[Long]("b") == 1710028799999L)
  }

  test("parser: as binds the PRE-filter frame; union labels it by the bound name") {
    val out = KqlParser.run(
      """Orders
        || as All
        || where amount >= 100
        || union withsource=src (All)
        || summarize n = count() by src
        || sort by src asc""".stripMargin, ordersReg)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // left side: Orders filtered to amount>=100 (2 rows); operand: the
    // binding captured BEFORE the where (all 3 rows)
    assert(out == Map("All" -> 3L, "Orders" -> 2L))
  }

  test("parser: as hint.materialized=true caches; bad names rejected") {
    val df = KqlParser.run(
      "Orders | as hint.materialized=true Snap | join kind=inner (Snap) on orderid | count",
      ordersReg)
    assert(df.head().getLong(0) == 3L)
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("Orders | as 2bad", ordersReg)
    }
    assert(e.getMessage.contains("bare name"))
  }

  test("parser: evaluate autocluster cubes attributes, drops the all-wildcard row") {
    val src = Map("T" -> Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("b", "y")).toDF("k1", "k2"))
    val rows = KqlParser.run("T | evaluate autocluster(0.5)", src)
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getAs[Long]("n"), r.getAs[Double]("pct"))).toSet
    // patterns with >= 50% coverage of 4 rows: (a,*)=3, (a,x)=2, (*,x)=2,
    // (*,y)=2 — never the grand total (*,*)
    assert(rows == Set(
      (Some("a"), None, 3L, 0.75),
      (Some("a"), Some("x"), 2L, 0.5),
      (None, Some("x"), 2L, 0.5),
      (None, Some("y"), 2L, 0.5)))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | evaluate autocluster(1.5)", src)
    }
    assert(e.getMessage.contains("(0, 1]"))
  }

  test("parser: evaluate basket mines frequent itemsets level-wise, equal to the cube") {
    // 3 attributes, 8 rows; threshold 0.25 → minCount 2. The Apriori
    // result must equal the over-threshold cube cells (anti-monotone
    // support), which autocluster computes — cross-pin the two verbs.
    val src = Map("T" -> Seq(
      ("a", "x", "p"), ("a", "x", "p"), ("a", "y", "p"), ("b", "y", "p"),
      ("b", "y", "q"), ("b", "z", "q"), ("c", "z", "q"), ("a", "x", "q")
    ).toDF("k1", "k2", "k3"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        Option(r.getString(2)), r.getAs[Long]("n"), r.getAs[Double]("pct"))).toSet
    val basket = canon(KqlParser.run("T | evaluate basket(0.25)", src))
    val cube = canon(KqlParser.run("T | evaluate autocluster(0.25)", src))
    assert(basket == cube, s"basket=$basket cube=$cube")
    // spot pins: a 3-attribute pattern survives ((a,x,p) = 2 of 8), the
    // grand total never appears, and sub-threshold pairs are pruned
    assert(basket.contains((Some("a"), Some("x"), Some("p"), 2L, 0.25)))
    assert(!basket.exists { case (a, b, c, _, _) => a.isEmpty && b.isEmpty && c.isEmpty })
    assert(!basket.exists(_._4 < 2L))
    // default threshold (0.05) and loud rejections
    assert(KqlParser.run("T | evaluate basket()", src).count() >= basket.size)
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run("T | evaluate basket(0)", src)
    }
    assert(e1.getMessage.contains("(0, 1]"))
    val wide = Map("W" -> Seq((1, 2, 3, 4, 5, 6, 7, 8, 9))
      .toDF("c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8", "c9"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("W | evaluate basket(0.5)", wide)
    }
    assert(e2.getMessage.contains("at most 8"))
  }

  test("parser: evaluate diffpatterns contrasts pattern shares across the two slices") {
    // slice A ('hi'): 3x (a,x), 1x (b,y); slice B ('lo'): 1x (a,x), 3x (b,y)
    val src = Map("T" -> Seq(
      ("a", "x", "hi"), ("a", "x", "hi"), ("a", "x", "hi"), ("b", "y", "hi"),
      ("a", "x", "lo"), ("b", "y", "lo"), ("b", "y", "lo"), ("b", "y", "lo"),
      ("c", "z", "other")).toDF("k1", "k2", "s"))
    val rows = KqlParser.run("T | evaluate diffpatterns(s, 'hi', 'lo', 10)", src)
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getAs[Long]("count_a"), r.getAs[Long]("count_b"),
        r.getAs[Double]("percent_diff"))).toSet
    // 'other' rows are excluded from both slices; every surviving
    // pattern differs by 50 points (totals = 4/4). percent_diff is the
    // ABSOLUTE difference (ADX's PercentDiffAB); direction comes from
    // percent_a vs percent_b.
    assert(rows == Set(
      (Some("a"), None, 3L, 1L, 50.0), (Some("a"), Some("x"), 3L, 1L, 50.0),
      (None, Some("x"), 3L, 1L, 50.0), (Some("b"), None, 1L, 3L, 50.0),
      (Some("b"), Some("y"), 1L, 3L, 50.0), (None, Some("y"), 1L, 3L, 50.0)))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | evaluate diffpatterns(s, 'hi', 'hi')", src)
    }
    assert(e.getMessage.contains("must differ"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("T | evaluate diffpatterns(nope, 'hi', 'lo')", src)
    }
    assert(e2.getMessage.contains("not found"))
  }

  test("parser: evaluate sliding_window_counts computes trailing-window count and dcount") {
    // events at day offsets 0,0,1,3 from Jan 1 (users u1,u2,u1,u3);
    // timeline Jan 1..4, lookback 2d, bin 1d: window (b-2d, b]
    val ev = Seq(
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 05:00:00")),
      ("u2", java.sql.Timestamp.valueOf("2024-01-01 06:00:00")),
      ("u1", java.sql.Timestamp.valueOf("2024-01-02 07:00:00")),
      ("u3", java.sql.Timestamp.valueOf("2024-01-04 01:00:00"))
    ).toDF("uid", "ts")
    val out = KqlParser.run(
      """E
        || evaluate sliding_window_counts(uid, ts, datetime(2024-01-01), datetime(2024-01-04), 2d, 1d)
        || sort by bin_ms asc""".stripMargin, Map("E" -> ev))
      .collect().map(r => (r.getAs[Long]("bin_ms"), r.getAs[Long]("Count"),
        r.getAs[Long]("Dcount")))
    val day = 86400000L
    val jan1 = java.time.LocalDate.of(2024, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    // bin Jan 1: no events in (Dec 30, Jan 1] at second resolution?
    // events on Jan 1 are AFTER midnight => not <= Jan 1 00:00 bin;
    // Jan 2 bin: (Dec 31, Jan 2] covers the two Jan 1 events only;
    // Jan 3: (Jan 1, Jan 3] covers Jan 1 evts? no — they are ON Jan 1
    // after midnight => > Jan 1, so yes: u1,u2 (Jan 1) + u1 (Jan 2);
    // Jan 4: (Jan 2, Jan 4] covers Jan 2 evt? 07:00 Jan 2 > Jan 2 ✓
    // plus Jan 4 01:00? that is AFTER the Jan 4 00:00 bin => excluded
    assert(out.toSeq == Seq(
      (jan1 + day, 2L, 2L),         // Jan 2
      (jan1 + 2 * day, 3L, 2L),     // Jan 3
      (jan1 + 3 * day, 1L, 1L)))    // Jan 4
    val e = intercept[IllegalArgumentException] {
      KqlParser.run(
        "E | evaluate sliding_window_counts(uid, ts, datetime(2024-01-01), datetime(2024-01-04), 5h, 2h)",
        Map("E" -> ev))
    }
    assert(e.getMessage.contains("multiple of bin"))
  }

  test("parser: evaluate activity_engagement computes the inner/outer dcount ratio") {
    // u1 active daily, u2 active on day 1 only; 1d inner vs 3d outer
    val ev = Seq(
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 05:00:00")),
      ("u2", java.sql.Timestamp.valueOf("2024-01-01 06:00:00")),
      ("u1", java.sql.Timestamp.valueOf("2024-01-02 07:00:00")),
      ("u1", java.sql.Timestamp.valueOf("2024-01-03 08:00:00"))
    ).toDF("uid", "ts")
    val out = KqlParser.run(
      """E
        || evaluate activity_engagement(uid, ts, datetime(2024-01-01), datetime(2024-01-03), 1d, 3d)
        || sort by bin_ms asc""".stripMargin, Map("E" -> ev))
      .collect().map(r => (r.getAs[Long]("bin_ms"),
        r.getAs[Long]("dcount_activities_inner"),
        r.getAs[Long]("dcount_activities_outer"),
        r.getAs[Double]("activity_ratio")))
    val day = 86400000L
    val jan1 = java.time.LocalDate.of(2024, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    // Jan 2 bin: inner (Jan1,Jan2] = {u1,u2}; outer (Dec30,Jan2] = same
    // Jan 3 bin: inner (Jan2,Jan3] = {u1}; outer (Dec31,Jan3] = {u1,u2}
    assert(out.toSeq == Seq(
      (jan1 + day, 2L, 2L, 1.0),
      (jan1 + 2 * day, 1L, 2L, 0.5)))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run(
        "E | evaluate activity_engagement(uid, ts, datetime(2024-01-01), datetime(2024-01-03), 2d, 3d)",
        Map("E" -> ev))
    }
    assert(e.getMessage.contains("multiple of inner"))
  }

  test("parser: reduce by clusters strings that differ only in digit runs") {
    val logs = Seq("GET /user/17", "GET /user/99", "GET /about", "POST /user/3")
      .toDF("line")
    val out = KqlParser.run("L | reduce by line | sort by Pattern asc",
      Map("L" -> logs)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      ("GET /about", 1L, "GET /about"),
      ("GET /user/*", 2L, "GET /user/17"),
      ("POST /user/*", 1L, "POST /user/3")))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("L | reduce by line with threshold=0.5", Map("L" -> logs))
    }
    assert(e.getMessage.contains("not supported"))
  }

  test("parser: evaluate funnel_sequence reports prev/next around the first occurrence") {
    // u1: login -> view -> click -> buy  (prev=login, next=buy)
    // u2: view -> click                  (prev=NULL, next=NULL)
    // u3: view ... 2h gap ... click      (step window 1h => NO match)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      ("u1", t("2024-01-01 08:00:00"), "login"),
      ("u1", t("2024-01-01 08:10:00"), "view"),
      ("u1", t("2024-01-01 08:20:00"), "click"),
      ("u1", t("2024-01-01 08:30:00"), "buy"),
      ("u2", t("2024-01-01 09:00:00"), "view"),
      ("u2", t("2024-01-01 09:05:00"), "click"),
      ("u3", t("2024-01-01 10:00:00"), "view"),
      ("u3", t("2024-01-01 12:30:00"), "click")
    ).toDF("uid", "ts", "st")
    val out = KqlParser.run(
      """E
        || evaluate funnel_sequence(uid, ts, datetime(2024-01-01), datetime(2024-01-02), 1h, st, dynamic(['view', 'click']))""".stripMargin,
      Map("E" -> ev)).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(out == Set(
      ("prev", Some("login"), 1L), ("prev", None, 1L),
      ("next", Some("buy"), 1L), ("next", None, 1L)))
  }

  test("parser: evaluate activity_counts_metrics tracks new vs returning users") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      ("u1", t("2024-01-01 05:00:00")), ("u2", t("2024-01-01 06:00:00")),
      ("u1", t("2024-01-02 07:00:00")), ("u3", t("2024-01-02 08:00:00")),
      ("u1", t("2024-01-02 09:00:00"))
    ).toDF("uid", "ts")
    val out = KqlParser.run(
      """E
        || evaluate activity_counts_metrics(uid, ts, datetime(2024-01-01), datetime(2024-01-03), 1d)
        || sort by bin_ms asc""".stripMargin, Map("E" -> ev))
      .collect().map(r => (r.getAs[Long]("count"), r.getAs[Long]("dcount"),
        r.getAs[Long]("new_dcount"), r.getAs[Long]("aggregated_dcount")))
    // day 1: 2 rows, 2 users, both new, cum 2
    // day 2: 3 rows, 2 users (u1,u3), 1 new (u3), cum 3
    assert(out.toSeq == Seq((2L, 2L, 2L, 2L), (3L, 2L, 1L, 3L)))
  }

  test("parser: evaluate rolling_percentile computes the trailing-window percentile") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (10.0, t("2024-01-01 05:00:00")), (20.0, t("2024-01-01 06:00:00")),
      (30.0, t("2024-01-02 07:00:00"))
    ).toDF("v", "ts")
    val out = KqlParser.run(
      """E
        || evaluate rolling_percentile(v, 50, ts, datetime(2024-01-01), datetime(2024-01-03), 2d, 1d)
        || sort by bin_ms asc""".stripMargin, Map("E" -> ev))
      .collect().map(r => r.getAs[Double]("rolling_percentile"))
    // Jan 2 bin: (Dec 31, Jan 2] -> {10, 20}, median 15
    // Jan 3 bin: (Jan 1, Jan 3] -> {10, 20, 30}, median 20
    assert(out.toSeq == Seq(15.0, 20.0))
  }

  test("parser: series_periods_detect finds a planted period") {
    // period-3 sawtooth: lag 3 (and its multiple 6) dominate
    val s = Seq(Tuple1(Seq(5.0, 0.0, 0.0, 5.0, 0.0, 0.0, 5.0, 0.0, 0.0,
      5.0, 0.0, 0.0))).toDF("x")
    val out = KqlParser.run(
      """T
        || extend pd = series_periods_detect(x, 2, 6, 2)
        || project p1 = tolong(pd.periods[0]), s1 = tolong(pd.scores[0]), p2 = tolong(pd.periods[1])""".stripMargin,
      Map("T" -> s)).collect().head
    // lag 3: 3 overlapping spikes x3 products = 75; lag 6: 2 -> 50;
    // lags 2,4,5: 0
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == (3L, 75L, 6L))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend pd = series_periods_detect(x, 0, 6, 1)", Map("T" -> s))
    }
    assert(e.getMessage.contains("minPeriod"))
  }

  test("parser: fork runs each leg against the same piped frame, tags fork_leg") {
    val out = KqlParser.run(
      """Orders
        || where orderid <= 3
        || fork big = (where amount >= 100 | count) all = (count)""".stripMargin,
      ordersReg).collect()
      .map(r => (r.getAs[String]("fork_leg"), r.getAs[Long]("Count"))).toSet
    // fixture orders 1..3: amounts 120, 80, 100 => big 2, all 3
    assert(out == Set(("big", 2L), ("all", 3L)))
    // differing leg schemas outer-union with nulls
    val cols = KqlParser.run(
      "Orders | fork a = (project city) b = (project amount)", ordersReg).columns.toSet
    assert(cols == Set("city", "amount", "fork_leg"))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("Orders | fork a = (count)", ordersReg)
    }
    assert(e.getMessage.contains("at least two"))
  }

  test("parser: evaluate new_activity_metrics builds the cohort retention triangle") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // cohort day1: u1, u2 (u1 returns day2); cohort day2: u3
    val ev = Seq(
      ("u1", t("2024-01-01 05:00:00")), ("u2", t("2024-01-01 06:00:00")),
      ("u1", t("2024-01-02 07:00:00")), ("u3", t("2024-01-02 08:00:00"))
    ).toDF("uid", "ts")
    val out = KqlParser.run(
      """E
        || evaluate new_activity_metrics(uid, ts, datetime(2024-01-01), datetime(2024-01-03), 1d)
        || sort by cohort_ms asc, bin_ms asc""".stripMargin, Map("E" -> ev))
      .collect().map(r => (r.getAs[Long]("cohort_size"),
        r.getAs[Long]("retained_dcount"), r.getAs[Double]("retention_ratio")))
    assert(out.toSeq == Seq(
      (2L, 2L, 1.0),   // cohort day1 @ day1
      (2L, 1L, 0.5),   // cohort day1 @ day2: only u1 returned
      (1L, 1L, 1.0)))  // cohort day2 @ day2: u3
  }

  test("parser: join kind=rightsemi/rightanti keep right rows by left-match, original names") {
    val dims = Map("D" -> Seq(("Seattle", "WA"), ("Austin", "TX"), ("Paris", "FR"))
      .toDF("city", "state")) ++ ordersReg
    val semi = KqlParser.run(
      "D | join kind=rightsemi (Orders) on city | distinct city | sort by city asc",
      dims).collect().map(_.getString(0))
    // Orders rows whose city exists in D: Seattle, Austin fixtures
    assert(semi.toSeq == Seq("Austin", "Seattle"))
    // rightanti: orders in no dimension city would be empty here; flip
    // the frames so the anti side is the dim table
    val anti = KqlParser.run(
      "Orders | join kind=rightanti (D) on city | project city, state", dims)
    assert(anti.columns.toSeq == Seq("city", "state"))
    assert(anti.collect().map(_.getString(0)).toSeq == Seq("Paris"))
  }

  test("parser: evaluate narrow transposes value columns to string (Column, Value) pairs") {
    val out = KqlParser.run(
      "Orders | where orderid == 1 | evaluate narrow() | sort by Column asc", ordersReg)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq((1, "amount", "120"), (1, "city", "Seattle")))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("Orders | project orderid | evaluate narrow()", ordersReg)
    }
    assert(e.getMessage.contains("key column"))
  }

  test("parser: scan greedy two-step funnel per key, match ids, partial matches emitted") {
    val ev = Seq(
      (1L, 1, "view"), (1L, 2, "view"), (1L, 3, "purchase"),
      (1L, 4, "purchase"), (1L, 5, "view"), (1L, 6, "purchase"),
      (2L, 1, "purchase"), (2L, 2, "view")
    ).toDF("user_id", "seq", "event_type")
    val out = KqlParser.run(
      """T
        || sort by user_id asc, seq asc
        || scan with_match_id=m by user_id with ( step sawview: event_type == 'view'; step bought: event_type == 'purchase'; )""".stripMargin,
      Map("T" -> ev)).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("seq"),
        r.getAs[String]("step"), r.getAs[Long]("m"))).toSet
    assert(out == Set(
      (1L, 1, "sawview", 0L), (1L, 3, "bought", 0L),   // greedy: view@2 ignored mid-match
      (1L, 5, "sawview", 1L), (1L, 6, "bought", 1L),   // purchase@4 ignored (no active match)
      (2L, 2, "sawview", 0L)))                         // open match emits its partial rows
  }

  test("parser: scan rejects unserialized frames, declare blocks, and assignments") {
    val ev = Seq((1L, 1, "view")).toDF("user_id", "seq", "event_type")
    val reg = Map("T" -> ev)
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run("T | scan with ( step a: true )", reg)
    }
    assert(e1.getMessage.contains("serialized"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("T | sort by seq asc | scan declare (x:long) with ( step a: true )", reg)
    }
    assert(e2.getMessage.contains("not supported"))
    val e3 = intercept[IllegalArgumentException] {
      KqlParser.run("T | sort by seq asc | scan with ( step a: true => x = 1 )", reg)
    }
    assert(e3.getMessage.contains("not supported"))
  }

  test("parser: sequence_detect matches a plain-Scala first-anchor reference on random sequences") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(1234)
    val types = Array("view", "click", "purchase")
    // 40 users, ~400 events across 20 days at hour granularity
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val data = (1 to 400).map { _ =>
      (rnd.nextInt(40).toLong,
        new Timestamp(base + rnd.nextInt(20 * 24) * 3600000L),
        types(rnd.nextInt(3)))
    }.distinct // duplicate (uid, t) rows would make min-chain ties ambiguous in the reference
    val out = KqlParser.run(
      "E | extend sv = t2 == 'view', sc = t2 == 'click', sp = t2 == 'purchase' " +
        "| evaluate sequence_detect(ts, 2d, 5d, sv, sc, sp, uid)",
      Map("E" -> data.toDF("uid", "ts", "t2")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val stepW = 2L * 86400000; val spanW = 5L * 86400000
    val expected = data.groupBy(_._1).flatMap { case (uid, rows) =>
      def minAfter(tpe: String, after: Long, cap: Long): Option[Long] =
        rows.filter(r => r._3 == tpe && r._2.getTime > after && r._2.getTime <= cap)
          .map(_._2.getTime).sorted.headOption
      val t1 = rows.filter(_._3 == "view").map(_._2.getTime).sorted.headOption
      for {
        a <- t1
        b <- minAfter("click", a, a + stepW)
        c <- minAfter("purchase", b, b + stepW)
        if c - a <= spanW
      } yield (uid, a, b, c)
    }.toSet
    assert(out == expected && expected.nonEmpty)
  }

  test("parser: scan matches a plain-Scala greedy reference on random sequences") {
    val rnd = new scala.util.Random(42)
    val types = Array("view", "click", "purchase")
    val data = (1 to 300).map(i => (rnd.nextInt(5).toLong, i, types(rnd.nextInt(3))))
    val out = KqlParser.run(
      """T
        || sort by k asc, seq asc
        || scan with_match_id=m by k with ( step a: t == 'view'; step b: t == 'click'; step c: t == 'purchase'; )""".stripMargin,
      Map("T" -> data.toDF("k", "seq", "t"))).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3), r.getLong(4))).toSet
    val names = Array("a", "b", "c")
    val preds = Array[String => Boolean](_ == "view", _ == "click", _ == "purchase")
    val expected = data.groupBy(_._1).flatMap { case (k, rows) =>
      var active = -1; var m = -1L
      rows.sortBy(_._2).flatMap { case (_, seq, t) =>
        if (active + 1 < 3 && preds(active + 1)(t)) {
          active += 1; if (active == 0) m += 1
          val r = (k, seq, names(active), m)
          if (active == 2) active = -1
          Some(r)
        } else None
      }
    }.toSet
    assert(out == expected)
  }

  test("parser: make-graph/graph-match two-hop chain with node properties") {
    val edges = Seq(
      ("u1", "city1", 1), ("u2", "city1", 2), ("u3", "city2", 3),
      ("city1", "WEST", 0), ("city2", "EAST", 0)
    ).toDF("src", "dst", "w")
    val nodes = Seq(("u1", "user"), ("u2", "user"), ("u3", "user"),
      ("city1", "city"), ("city2", "city"), ("WEST", "region"), ("EAST", "region"))
      .toDF("id", "kind")
    val out = KqlParser.run(
      """E
        || make-graph src --> dst with N on id
        || graph-match (u)-[e1]->(c)-[e2]->(r) where r.id == 'WEST' and u.kind == 'user' project uid = u.id, cid = c.id, w = e1.w""".stripMargin,
      Map("E" -> edges, "N" -> nodes)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("u1", "city1", 1), ("u2", "city1", 2)))
  }

  test("parser: graph-match repeated node variable closes a cycle (triangles)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")).toDF("src", "dst")
    val out = KqlParser.run(
      "E | make-graph src --> dst | graph-match (x)-[e1]->(y)-[e2]->(z)-[e3]->(x) project x.id, y.id, z.id",
      Map("E" -> edges)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b")))
  }

  test("parser: graph-match rejects reversed arrows, var-length edges, missing make-graph") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val reg = Map("E" -> edges)
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run("E | graph-match (a)-[e]->(b) project a.id", reg)
    }
    assert(e1.getMessage.contains("make-graph"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("E | make-graph src --> dst | graph-match (a)<-[e]-(b) project a.id", reg)
    }
    assert(e2.getMessage.contains("forward"))
    val e3 = intercept[IllegalArgumentException] {
      KqlParser.run("E | make-graph src --> dst | graph-match (a)-[e*1..3]->(b) project a.id", reg)
    }
    assert(e3.getMessage.contains("not supported"))
  }

  test("parser: graph-to-table exports nodes and edges back to tabular form") {
    val edges = Seq(("u1", "city1", 5), ("u2", "city1", 7)).toDF("src", "dst", "w")
    val nodes = Seq(("u1", "user"), ("u2", "user"), ("city1", "city"))
      .toDF("id", "kind")
    val reg = Map("E" -> edges, "N" -> nodes)
    // edges with both id columns prepended (duplicates of src/dst)
    val e = KqlParser.run(
      "E | make-graph src --> dst | graph-to-table edges with_source_id=sid with_target_id=tid",
      reg)
    assert(e.columns.toSeq == Seq("sid", "tid", "src", "dst", "w"))
    assert(e.collect().map(r => (r.getString(0), r.getString(1), r.getInt(4))).toSet ==
      Set(("u1", "city1", 5), ("u2", "city1", 7)))
    // attached node-property table, id copied under the caller's name
    val n1 = KqlParser.run(
      "E | make-graph src --> dst with N on id | graph-to-table nodes with_node_id=node",
      reg)
    assert(n1.columns.toSeq == Seq("node", "id", "kind"))
    assert(n1.collect().map(_.getString(0)).toSet == Set("u1", "u2", "city1"))
    // no node table: the node set derives as distinct endpoint union
    val n2 = KqlParser.run(
      "E | make-graph src --> dst | graph-to-table nodes with_node_id=v", reg)
    assert(n2.columns.toSeq == Seq("v"))
    assert(n2.collect().map(_.getString(0)).toSet == Set("u1", "u2", "city1"))
    // loud rejections: two-output form, unknown option, no make-graph
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run("E | make-graph src --> dst | graph-to-table nodes as N, edges as E2", reg)
    }
    assert(e1.getMessage.contains("not supported"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("E | make-graph src --> dst | graph-to-table edges with_node_id=x", reg)
    }
    assert(e2.getMessage.contains("unknown option"))
    val e3 = intercept[IllegalArgumentException] {
      KqlParser.run("E | graph-to-table edges", reg)
    }
    assert(e3.getMessage.contains("make-graph"))
  }

  test("parser: graph-shortest-paths BFS finds minimal hops, shortcut beats long route") {
    // diamond with a shortcut: s->m1->m2->t (3 hops) AND s->t (1 hop);
    // u->m1->m2->t only (3 hops). BFS must report 1 for s, 3 for u —
    // a walk enumerator without first-arrival pruning would emit both.
    val edges = Seq(("s", "m1"), ("m1", "m2"), ("m2", "t"), ("s", "t"),
      ("u", "m1")).toDF("src", "dst")
    val out = KqlParser.run(
      """E
        || make-graph src --> dst
        || graph-shortest-paths (a)-[e*1..5]->(b) where b.id == 't' project src = a.id, hops = array_length(e)""".stripMargin,
      Map("E" -> edges)).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("s", 1), ("u", 3), ("m1", 2), ("m2", 1)))
  }

  test("parser: graph-shortest-paths respects the hop cap and node-property filters") {
    val edges = Seq(("s", "m1"), ("m1", "m2"), ("m2", "t"), ("u", "m1"))
      .toDF("src", "dst")
    val nodes = Seq(("s", "seed"), ("u", "seed"), ("m1", "mid"), ("m2", "mid"),
      ("t", "target")).toDF("id", "kind")
    // cap 2: t is 3 hops from both seeds => unreachable within cap
    val capped = KqlParser.run(
      """E
        || make-graph src --> dst with N on id
        || graph-shortest-paths (a)-[e*1..2]->(b) where a.kind == 'seed' and b.id == 't' project a.id""".stripMargin,
      Map("E" -> edges, "N" -> nodes)).collect()
    assert(capped.isEmpty)
    // a-side property filter prunes the seed set pre-traversal
    val out = KqlParser.run(
      """E
        || make-graph src --> dst with N on id
        || graph-shortest-paths output=all (a)-[e*1..4]->(b) where a.kind == 'seed' and b.kind == 'target' project src = a.id, hops = array_length(e)""".stripMargin,
      Map("E" -> edges, "N" -> nodes)).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("s", 3), ("u", 3)))
  }

  test("parser: graph-shortest-paths rejects lo>1, edge-property projection, mixed conjuncts") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val reg = Map("E" -> edges)
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run(
        "E | make-graph src --> dst | graph-shortest-paths (a)-[e*2..4]->(b) project a.id", reg)
    }
    assert(e1.getMessage.contains("lower"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run(
        "E | make-graph src --> dst | graph-shortest-paths (a)-[e*1..4]->(b) project a.id, e.w", reg)
    }
    assert(e2.getMessage.contains("array_length"))
    val e3 = intercept[IllegalArgumentException] {
      KqlParser.run(
        "E | make-graph src --> dst | graph-shortest-paths (a)-[e*1..4]->(b) where a.id == b.id project a.id", reg)
    }
    assert(e3.getMessage.contains("exactly one node"))
  }

  test("parser: invoke applies a tabular function let to the piped frame") {
    val out = KqlParser.run(
      """let Big = (T:(*)) { T | where amount >= 100 | extend tag = 'big' };
        |Orders
        || invoke Big()
        || summarize n = count() by tag""".stripMargin, ordersReg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("big", 2L)))
  }

  test("parser: invoke rejects scalar-param lambdas, unknown and non-function lets") {
    val e1 = intercept[IllegalArgumentException] {
      KqlParser.run("let f = (x:long) { x + 1 };\nOrders | count", ordersReg)
    }
    assert(e1.getMessage.contains("tabular parameter"))
    val e2 = intercept[IllegalArgumentException] {
      KqlParser.run("Orders | invoke nope()", ordersReg)
    }
    assert(e2.getMessage.contains("unknown function"))
    val e3 = intercept[IllegalArgumentException] {
      KqlParser.run("let s = 5;\nOrders | invoke s()", ordersReg)
    }
    assert(e3.getMessage.contains("scalar let"))
  }

  test("parser: project-rename keeps column position; project-keep keeps original order") {
    val ren = KqlParser.run("Orders | project-rename town = city", ordersReg)
    assert(ren.columns.toSeq == Seq("orderid", "town", "amount"))
    // listed out of order on purpose: project-keep must NOT reorder
    val keep = KqlParser.run("Orders | project-keep amount, orderid", ordersReg)
    assert(keep.columns.toSeq == Seq("orderid", "amount"))
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("Orders | project-rename x = nope", ordersReg)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("parser: around / array_split / has_any_index / hash_* scalars") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    // around: inclusive band
    assert(one("around(10, 12, 2)").getBoolean(0))
    assert(one("around(10.0, 12.0, 1.9)").getBoolean(0) == false)
    assert(one("around(14, 12, 2)").getBoolean(0))
    // array_split: single index, index list, negative, out-of-range
    def splitStr(q: String): String =
      one(s"tostring($q)").getString(0)
    assert(splitStr("array_split(pack_array(1, 2, 3, 4, 5), 2)")
      == """[[1, 2], [3, 4, 5]]""")
    assert(splitStr("array_split(pack_array(1, 2, 3, 4, 5), dynamic([1, 3]))")
      == """[[1], [2, 3], [4, 5]]""")
    assert(splitStr("array_split(pack_array(1, 2, 3, 4, 5), -2)")
      == """[[1, 2, 3], [4, 5]]""")
    assert(splitStr("array_split(pack_array(1, 2), 7)")
      == """[[1, 2], []]""")
    assert(splitStr("array_split(pack_array(1, 2), 0)")
      == """[[], [1, 2]]""")
    // has_any_index: index IN VALUES of first term the source has;
    // whole-term ci semantics (substring inside a word must NOT hit)
    assert(one("has_any_index('where is the START point', dynamic(['middle', 'start']))").getInt(0) == 1)
    assert(one("has_any_index('restart now', dynamic(['start', 'now']))").getInt(0) == 1)
    assert(one("has_any_index('nothing here', dynamic(['a', 'b']))").getInt(0) == -1)
    // hash tiers: published digests of 'abc'
    assert(one("hash_md5('abc')").getString(0) == "900150983cd24fb0d6963f7d28e17f72")
    assert(one("hash_sha1('abc')").getString(0) == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(one("hash_sha256('abc')").getString(0) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("parser: convert_* unit families — exact factors, affine temperature, loud rejects") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    assert(one("convert_length(1.0, 'Mile', 'Meter')").getDouble(0) == 1609.344)
    assert(one("convert_length(12.0, 'Inch', 'Foot')").getDouble(0) == 12.0 * 0.0254 / 0.3048)
    assert(one("convert_mass(1.0, 'Pound', 'Gram')").getDouble(0) == 0.45359237 / 0.001)
    assert(one("convert_speed(1.0, 'MilePerHour', 'MeterPerSecond')").getDouble(0) == 0.44704)
    assert(math.abs(one("convert_angle(180.0, 'Degree', 'Radian')").getDouble(0) - math.Pi) < 1e-12)
    assert(one("convert_energy(1.0, 'KilowattHour', 'Joule')").getDouble(0) == 3600000.0)
    assert(one("convert_volume(1.0, 'UsGallon', 'Liter')").getDouble(0) == 0.003785411784 / 0.001)
    assert(one("convert_force(1.0, 'KilogramForce', 'Newton')").getDouble(0) == 9.80665)
    // temperature is affine, not a factor
    // C -> F routes through Kelvin (two affine steps), so the result
    // carries the chain's rounding: 211.99999999999994, not 212.0
    assert(math.abs(one("convert_temperature(100.0, 'DegreeCelsius', 'DegreeFahrenheit')")
      .getDouble(0) - 212.0) < 1e-12)
    assert(math.abs(one("convert_temperature(32.0, 'DegreeFahrenheit', 'DegreeCelsius')")
      .getDouble(0)) < 1e-12)
    assert(one("convert_temperature(0.0, 'DegreeCelsius', 'Kelvin')").getDouble(0) == 273.15)
    // unknown unit / non-literal unit reject loudly
    val e1 = intercept[IllegalArgumentException](one("convert_length(1.0, 'Cubit', 'Meter')"))
    assert(e1.getMessage.contains("Cubit") && e1.getMessage.contains("supported"))
    intercept[IllegalArgumentException](one("convert_length(1.0, x, 'Meter')"))
  }

  test("parser: gamma/loggamma — analytic pins, domain null") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    assert(math.abs(one("gamma(5.0)").getDouble(0) - 24.0) < 1e-11)
    assert(math.abs(one("gamma(0.5)").getDouble(0) - math.sqrt(math.Pi)) < 1e-12)
    assert(math.abs(one("gamma(1.0)").getDouble(0) - 1.0) < 1e-13)
    assert(math.abs(one("gamma(0.1)").getDouble(0) - 9.513507698668732) < 1e-10)
    assert(math.abs(one("loggamma(10.5)").getDouble(0) - 13.940625219403763) < 1e-10)
    assert(math.abs(one("loggamma(100.0)").getDouble(0) - 359.1342053695754) < 1e-9)
    assert(one("gamma(0.0)").isNullAt(0))
    assert(one("loggamma(-2.5)").isNullAt(0))
  }

  test("parser: column_ifexists resolves against the current frame") {
    val reg = Map("T" -> Seq((1, "x"), (2, "y")).toDF("v", "k"))
    val r = KqlParser.run(
      "T | project v, a = column_ifexists('v', 0) * 2, " +
        "m = column_ifexists('nope', v * 10) + 1 | sort by v asc", reg).collect()
    assert(r.map(_.getInt(1)).toSeq == Seq(2, 4))
    assert(r.map(_.getInt(2)).toSeq == Seq(11, 21))
    // a string literal CONTAINING the function name is not rewritten
    val s = KqlParser.run(
      "T | project s = 'column_ifexists(v, 1)' | take 1", reg).head().getString(0)
    assert(s == "column_ifexists(v, 1)")
    // non-literal name rejects loudly
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | project a = column_ifexists(k, 0)", reg).collect()
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("parser: row_window_session — idle, max-window, and restart rules") {
    // minutes: 0,2,4 | 12,14,16,18,20,22 | 24 with idle 3m, max 10m:
    // gap 12-4=8 > 3m opens the second session; 22-12=10 is NOT > 10m
    // (inclusive bound) so 22 stays; 24-12=12 > 10m restarts at 24.
    val mins = Seq(0, 2, 4, 12, 14, 16, 18, 20, 22, 24)
    val reg = Map("T" -> mins.zipWithIndex
      .map { case (m, i) => (i, f"2024-01-01 00:$m%02d:00") }.toDF("i", "s"))
    val rows = KqlParser.run(
      "T | extend ts = todatetime(s) | sort by i asc " +
        "| extend sb = row_window_session(ts, 10m, 3m) " +
        "| project i, ms = unix_millis(sb) | sort by i asc", reg).collect()
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val starts = rows.map(r => ((r.getLong(1) - base) / 60000L).toInt).toSeq
    assert(starts == Seq(0, 0, 0, 12, 12, 12, 12, 12, 12, 24), starts)
    // restart predicate forces a new session mid-stream
    val rows2 = KqlParser.run(
      "T | extend ts = todatetime(s) | sort by i asc " +
        "| extend sb = row_window_session(ts, 100m, 100m, i == 5) " +
        "| project i, ms = unix_millis(sb) | sort by i asc", reg).collect()
    val starts2 = rows2.map(r => ((r.getLong(1) - base) / 60000L).toInt).toSeq
    assert(starts2 == Seq(0, 0, 0, 0, 0, 16, 16, 16, 16, 16), starts2)
    // unserialized frame rejects loudly
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | extend ts = todatetime(s) " +
        "| extend sb = row_window_session(ts, 10m, 3m)", reg).collect()
    }
    assert(e.getMessage.contains("serialized"))
  }

  test("parser: count_distinct[if], make_list_with_nulls, format_ipv4_mask, base64_decode_toarray") {
    val reg = Map("T" -> Seq(("a", 1), ("b", 2), ("a", 3), ("c", 4), ("b", 5)).toDF("k", "v"))
    // exact distinct forms share the dcount implementation
    val r = KqlParser.run(
      "T | summarize nd = count_distinct(k), ndi = count_distinctif(k, v >= 3)", reg).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 3) // a,b,c; a(3),c(4),b(5)
    // make_list_with_nulls keeps the null holes make_list drops
    // (the null comes from format_ipv4's out-of-range convention)
    val r2 = KqlParser.run(
      "T | extend s3 = iff(v % 2 == 0, tostring(v), format_ipv4(4294967296)) " +
        "| summarize lst = make_list_with_nulls(s3), plain = make_list(s3) " +
        "| project nwn = tolong(array_length(lst)), np = tolong(array_length(plain))",
      reg).head()
    assert(r2.getLong(0) == 5, r2)
    assert(r2.getLong(1) == 2) // make_list dropped 3 nulls
    val reg1 = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg1).collect().head
    // format_ipv4_mask
    assert(one("format_ipv4_mask('192.168.10.77', 24)").getString(0) == "192.168.10.0/24")
    assert(one("format_ipv4_mask('10.99.88.77', 8)").getString(0) == "10.0.0.0/8")
    assert(one("format_ipv4_mask('1.2.3.4', 32)").getString(0) == "1.2.3.4/32")
    assert(one("format_ipv4_mask('1.2.3.4', 33)").isNullAt(0))
    assert(one("format_ipv4_mask('999.2.3.4', 24)").isNullAt(0))
    // base64_decode_toarray: 'abc' = YWJj -> [97, 98, 99]; '' -> []
    assert(one("tostring(base64_decode_toarray('YWJj'))").getString(0) == "[97, 98, 99]")
    assert(one("base64_decode_toarray('')").getSeq[Int](0).isEmpty)
    assert(one("base64_decode_toarray(base64_encode_tostring('héx'))").getSeq[Int](0)
      == Seq(104, 0xc3, 0xa9, 120)) // UTF-8 bytes, not codepoints
  }

  test("parser: beta_cdf/beta_pdf/welch_test — analytic and scipy-pinned values") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    // Beta(1,1) is uniform: cdf(x) = x, pdf = 1
    assert(math.abs(one("beta_cdf(0.3, 1.0, 1.0)").getDouble(0) - 0.3) < 1e-12)
    assert(math.abs(one("beta_pdf(0.3, 1.0, 1.0)").getDouble(0) - 1.0) < 1e-12)
    // Beta(2,2): cdf(x) = 3x^2 - 2x^3 -> cdf(0.25) = 0.15625
    assert(math.abs(one("beta_cdf(0.25, 2.0, 2.0)").getDouble(0) - 0.15625) < 1e-12)
    // pdf Beta(2,5) at 0.2: 30*0.2*(0.8)^4 = 2.4576
    assert(math.abs(one("beta_pdf(0.2, 2.0, 5.0)").getDouble(0) - 2.4576) < 1e-10)
    // symmetric-branch side (x above the split), large shapes —
    // reference value from an independent NR-ibeta implementation
    assert(math.abs(one("beta_cdf(0.9, 20.0, 3.0)").getDouble(0)
      - 0.6200409384119172) < 1e-10)
    // bounds and domain
    assert(one("beta_cdf(-0.5, 2.0, 2.0)").getDouble(0) == 0.0)
    assert(one("beta_cdf(1.5, 2.0, 2.0)").getDouble(0) == 1.0)
    assert(one("beta_cdf(0.5, 0.0, 2.0)").isNullAt(0))
    assert(one("beta_pdf(0.5, -1.0, 2.0)").isNullAt(0))
    // welch: equal groups -> t = 0 -> p = 1
    assert(math.abs(one("welch_test(5.0, 1.0, 10, 5.0, 1.0, 10)").getDouble(0) - 1.0) < 1e-12)
    // Welch p for (m 5, v 1, n 10) vs (m 6, v 2, n 12): t = −1.936,
    // Welch–Satterthwaite df ≈ 19.56 — reference 0.0673935175609...
    // from an independent NR-ibeta implementation
    assert(math.abs(one("welch_test(5.0, 1.0, 10, 6.0, 2.0, 12)").getDouble(0)
      - 0.06739351756097958) < 1e-10)
    // degenerate inputs -> null
    assert(one("welch_test(5.0, 1.0, 1, 6.0, 2.0, 12)").isNullAt(0))
    assert(one("welch_test(5.0, 0.0, 10, 6.0, 0.0, 12)").isNullAt(0))
  }

  test("parser: unicode codepoints round-trip, astral-safe; punycode RFC vectors") {
    val reg = Map("T" -> Seq(Tuple1("ignored")).toDF("x"))
    def one(q: String) = KqlParser.run("T | project v = " + q, reg).collect().head
    assert(one("tostring(unicode_codepoints_from_string('héx'))").getString(0)
      == "[104, 233, 120]")
    assert(one("unicode_codepoints_from_string('')").getSeq[Int](0).isEmpty)
    // astral U+1D11E counts as ONE codepoint
    assert(one("unicode_codepoints_from_string(unicode_codepoints_to_string(pack_array(119070)))")
      .getSeq[Int](0) == Seq(119070))
    assert(one("unicode_codepoints_to_string(pack_array(104, 233, 120))").getString(0) == "héx")
    assert(one("unicode_codepoints_to_string(pack_array(104, -1))").isNullAt(0))
    // round-trip through both directions
    assert(one("unicode_codepoints_to_string(unicode_codepoints_from_string('año 2024'))")
      .getString(0) == "año 2024")
    // punycode: RFC 3492 / known-label vectors, raw (no xn--)
    assert(one("punycode_from_string('bücher')").getString(0) == "bcher-kva")
    assert(one("punycode_to_string('bcher-kva')").getString(0) == "bücher")
    assert(one("punycode_from_string('münchen')").getString(0) == "mnchen-3ya")
    assert(one("punycode_to_string('mnchen-3ya')").getString(0) == "münchen")
    // pure-ASCII label: raw form appends the delimiter
    assert(one("punycode_from_string('abc')").getString(0) == "abc-")
    assert(one("punycode_to_string('abc-')").getString(0) == "abc")
    // round-trip on a mixed label
    assert(one("punycode_to_string(punycode_from_string('日本語テスト'))")
      .getString(0) == "日本語テスト")
    // malformed decode → null (engine convention)
    assert(one("punycode_to_string('###')").isNullAt(0))
    // r18 (r17 ADVICE): the ACE prefix is case-insensitive per IDNA —
    // an uppercase 'XN--' label must decode, not pass through
    assert(one("punycode_domain_to_string('XN--BCHER-KVA.example.com')")
      .getString(0) == "bücher.example.com")
    assert(one("punycode_domain_to_string('xn--bcher-kva.example.com')")
      .getString(0) == "bücher.example.com")
  }

  test("parser: scalar wave 4 — strcmp/regex_quote/array_sort_desc/jaccard/bag_zip/b64") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // strcmp: ordinal sign, null in → null out
    assert(one("strcmp('abc', 'abd')").getInt(0) == -1)
    assert(one("strcmp('abc', 'abc')").getInt(0) == 0)
    assert(one("strcmp('b', 'a')").getInt(0) == 1)
    assert(one("strcmp(tostring(c), '')").getInt(0) == 1)
    // regex_quote output used AS a regex matches the original literally
    assert(one("tolong(iff('a+b(c)' matches regex regex_quote('a+b(c)'), 1, 0))")
      .getLong(0) == 1L)
    assert(one("regex_quote('1.2*3')").getString(0) == "1\\.2\\*3")
    assert(one("regex_quote('back\\\\slash')").getString(0) == "back\\\\slash")
    // array_sort_desc
    assert(one("array_sort_desc(pack_array(2, 9, 4))").getSeq[Int](0) == Seq(9, 4, 2))
    // jaccard_index: distinct-set semantics; both-empty → null
    assert(one("jaccard_index(pack_array(1, 2, 2), pack_array(2, 3))").getDouble(0)
      == 1.0 / 3.0)
    assert(one("jaccard_index(pack_array(1), pack_array(1))").getDouble(0) == 1.0)
    // bag_zip: first-wins dup keys, sorted-key canon, mismatch → null
    assert(one("tostring(bag_zip(pack_array('b', 'a', 'b'), pack_array(1, 2, 3)))")
      .getString(0) == """{"a":2,"b":1}""")
    assert(one("bag_zip(pack_array('a'), pack_array(1, 2))").isNullAt(0))
    // base64_encode_fromarray inverts base64_decode_toarray
    assert(one("base64_encode_fromarray(pack_array(77, 97, 110))").getString(0) == "TWFu")
    assert(one("strcat_array(base64_decode_toarray(" +
      "base64_encode_fromarray(pack_array(0, 255, 128))), ',')")
      .getString(0) == "0,255,128")
  }

  test("parser: IP tier 2 — in_any_range, ipv6 CIDR, textual IPv4 detection") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = tolong(iff($e, 1, 0))", reg).head()
    assert(one("ipv4_is_in_any_range('10.2.3.4', '11.0.0.0/8', '10.0.0.0/8')").getLong(0) == 1L)
    assert(one("ipv4_is_in_any_range('12.2.3.4', '11.0.0.0/8', '10.0.0.0/8')").getLong(0) == 0L)
    // plain address range = /128; '::'-gapped CIDR base parses
    assert(one("ipv6_is_in_range('2001:db8::1', '2001:db8::1')").getLong(0) == 1L)
    assert(one("ipv6_is_in_range('2001:db8::2', '2001:db8::1')").getLong(0) == 0L)
    assert(one("ipv6_is_in_any_range('fe80::9', 'fc00::/7', 'fe80::/10')").getLong(0) == 1L)
    // adjacent IPs one separator apart are BOTH terms (the tokenize-
    // first design; a boundary-consuming regex would miss the second)
    assert(one("has_ipv4('x 1.2.3.4 5.6.7.8')").getLong(0) == 1L)
    assert(one("has_any_ipv4('x 1.2.3.4 5.6.7.8', '5.6.7.8')").getLong(0) == 1L)
    // 5-octet dotted token is NOT an IP; octets over 255 reject
    assert(one("has_ipv4('no 1.2.3.4.5 here')").getLong(0) == 0L)
    assert(one("has_ipv4('no 256.1.2.3 here')").getLong(0) == 0L)
    // prefix matching stops at octet boundaries
    assert(one("has_ipv4_prefix('from 127.0.1.5', '127.0.')").getLong(0) == 1L)
    assert(one("has_ipv4_prefix('from 127.01.1.5', '127.0')").getLong(0) == 0L)
    assert(one("has_any_ipv4_prefix('from 10.1.2.3', '99.', '10.1.')").getLong(0) == 1L)
    // a full-IP prefix WITHOUT a trailing dot matches the bare token;
    // an explicit trailing dot demands a longer token (ADX semantics)
    assert(one("has_ipv4_prefix('from 10.1.2.3 x', '10.1.2.3')").getLong(0) == 1L)
    assert(one("has_ipv4_prefix('from 10.1.2.3 x', '10.1.2.3.')").getLong(0) == 0L)
    // non-literal IP args reject loudly
    val e = intercept[IllegalArgumentException] {
      KqlParser.run("T | project r = has_any_ipv4('t', c)", reg).collect()
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("parser: gzip/zlib codecs — round-trip, RFC framing, malformed → null") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // round-trips, including non-ASCII text
    assert(one("gzip_decompress_from_base64_string(" +
      "gzip_compress_to_base64_string('hello graft'))").getString(0) == "hello graft")
    assert(one("zlib_decompress_from_base64_string(" +
      "zlib_compress_to_base64_string('año 2024 ∑'))").getString(0) == "año 2024 ∑")
    assert(one("gzip_decompress_from_base64_string(" +
      "gzip_compress_to_base64_string(''))").getString(0) == "")
    // cross-check against java.util.zip driven directly (independent
    // of the expression code path): decompress a stream WE built
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("vector".getBytes("UTF-8")); gz.close()
    val g64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    assert(one(s"gzip_decompress_from_base64_string('$g64')").getString(0) == "vector")
    // and the engine's compressed output decodes with java.util.zip
    val eng = one("gzip_compress_to_base64_string('vector')").getString(0)
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(eng)))
    assert(new String(in.readAllBytes(), "UTF-8") == "vector")
    // zlib header: CMF 0x78 (32K window), FLG for the default level
    val zb = java.util.Base64.getDecoder.decode(
      one("zlib_compress_to_base64_string('abc')").getString(0))
    assert((zb(0) & 0xFF) == 0x78 && ((zb(0) & 0xFF) * 256 + (zb(1) & 0xFF)) % 31 == 0)
    // malformed / truncated / wrong-codec input → null
    assert(one("gzip_decompress_from_base64_string('not base64!!')").isNullAt(0))
    assert(one("gzip_decompress_from_base64_string('AAAA')").isNullAt(0))
    assert(one("zlib_decompress_from_base64_string('AAAA')").isNullAt(0))
    assert(one("zlib_decompress_from_base64_string(" +
      "gzip_compress_to_base64_string('x'))").isNullAt(0))
  }

  test("parser: geo_geohash_to_polygon — rect ring, containment, malformed") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // bind the polygon to a column first (variant paths rewrite on
    // column roots — the query idiom), then pin the geometry
    def geo(e: String) = KqlParser.run(
      "T | extend gp = geo_geohash_to_polygon('u4pru'), " +
        "gc = geo_geohash_to_central_point('u4pru') " +
        s"| project r = $e", reg).head()
    // the cell polygon contains the cell's own central point
    assert(geo("tolong(iff(geo_point_in_polygon(" +
      "todouble(gc.coordinates[0]), todouble(gc.coordinates[1]), gp), 1, 0))")
      .getLong(0) == 1L)
    // closed ring: 5 vertices (index 4 exists, 5 does not),
    // first == last; W < E, S < N
    assert(geo("tolong(iff(isnotnull(todouble(gp.coordinates[0][4][0])) and " +
      "isnull(todouble(gp.coordinates[0][5][0])), 1, 0))").getLong(0) == 1L)
    assert(geo("tolong(iff(" +
      "todouble(gp.coordinates[0][0][0]) < todouble(gp.coordinates[0][2][0]) and " +
      "todouble(gp.coordinates[0][0][1]) < todouble(gp.coordinates[0][2][1]), 1, 0))")
      .getLong(0) == 1L)
    assert(geo("tolong(iff(todouble(gp.coordinates[0][0][0]) == " +
      "todouble(gp.coordinates[0][4][0]), 1, 0))").getLong(0) == 1L)
    // malformed tokens → null (bad alphabet / empty / too long)
    assert(one("geo_geohash_to_polygon('ab#')").isNullAt(0))
    assert(one("geo_geohash_to_polygon('')").isNullAt(0))
  }

  test("parser: geo_closest_point_on_line — foot point consistency") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    val line = """'{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0]]}'"""
    // perpendicular foot: (0.4, 0.3) projects to (0.4, 0.0)
    val r = KqlParser.run(
      s"T | extend cp = geo_closest_point_on_line(0.4, 0.3, parse_json($line)) " +
        "| project x = cp.coordinates[0], y = cp.coordinates[1]", reg).head()
    assert(math.abs(r.getDouble(0) - 0.4) < 1e-9 && math.abs(r.getDouble(1)) < 1e-12)
    // beyond the end: clamps to the endpoint
    val e = KqlParser.run(
      s"T | extend cp = geo_closest_point_on_line(2.0, 0.5, parse_json($line)) " +
        "| project x = cp.coordinates[0]", reg).head()
    assert(e.getDouble(0) == 1.0)
    // the foot's own distance to the line is ~0; invalid point → null
    val z = KqlParser.run(
      s"T | extend cp = geo_closest_point_on_line(0.4, 0.3, parse_json($line)) " +
        s"| project d = geo_distance_point_to_line(cp.coordinates[0], cp.coordinates[1], parse_json($line))",
      reg).head()
    assert(z.getDouble(0) < 1e-6)
    assert(KqlParser.run(
      s"T | project r = geo_closest_point_on_line(200.0, 0.0, parse_json($line))", reg)
      .head().isNullAt(0))
  }

  test("parser: geo densify — subdivision, guards, closed rings") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    val line = """'{"type":"LineString","coordinates":[[0.0,0.0],[0.9,0.0]]}'"""
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // 0.9 deg at the equator ≈ 100.2 km; 10 km tolerance → 11 segments
    // = 12 points (indices 0..11), interior points at i/11 of the chord
    val d = KqlParser.run(
      s"T | extend d = geo_line_densify(parse_json($line), 10000.0) " +
        "| project x1 = todouble(d.coordinates[1][0]), " +
        "  n10 = isnotnull(todouble(d.coordinates[11][0])), " +
        "  n11 = isnull(todouble(d.coordinates[12][0]))", reg).head()
    assert(math.abs(d.getDouble(0) - 0.9 / 11.0) < 1e-12 && d.getBoolean(1) && d.getBoolean(2))
    // densified length equals the original chord's length to an ulp
    val l = KqlParser.run(
      s"T | extend g = parse_json($line) " +
        "| extend d = geo_line_densify(g, 10000.0) " +
        "| project a = geo_line_length(g), b = geo_line_length(d)", reg).head()
    assert(math.abs(l.getDouble(0) - l.getDouble(1)) < 1e-6)
    // guards: bad tolerance, degenerate geometry, micro-tolerance cap
    assert(one(s"geo_line_densify(parse_json($line), 0.0)").isNullAt(0))
    assert(one(s"geo_line_densify(parse_json($line), -5.0)").isNullAt(0))
    // null tolerance must yield null, not a coordinate-less VARIANT
    // (three-value logic: NOT (null > 0) is null, needs its own arm)
    assert(one(s"geo_line_densify(parse_json($line), todouble(parse_json('null')))").isNullAt(0))
    assert(one("geo_line_densify(parse_json('{\"type\":\"LineString\",\"coordinates\":[[1.0,1.0]]}'), 100.0)").isNullAt(0))
    assert(one(s"geo_line_densify(parse_json($line), 0.001)").isNullAt(0)) // > 4096 segments
    // a closed polygon ring stays closed
    val pg = """'{"type":"Polygon","coordinates":[[[0.0,0.0],[0.5,0.0],[0.5,0.5],[0.0,0.0]]]}'"""
    val p = KqlParser.run(
      s"T | extend d = geo_polygon_densify(parse_json($pg), 20000.0) " +
        "| project ok = todouble(d.coordinates[0][0][0]) == 0.0, " +
        "  per = geo_polygon_perimeter(d)", reg).head()
    assert(p.getBoolean(0) && p.getDouble(1) > 0.0)
  }

  test("parser: datetime tz conversion + array_index_of optional arms") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // IANA zones resolve through the JVM tzdb, DST-correct: New York
    // is UTC-4 in June (EDT) and UTC-5 in January (EST)
    assert(one("unix_millis(datetime_utc_to_local(todatetime('2024-06-15 12:00:00'), 'America/New_York'))")
      .getLong(0) == one("unix_millis(todatetime('2024-06-15 08:00:00'))").getLong(0))
    assert(one("unix_millis(datetime_utc_to_local(todatetime('2024-01-15 12:00:00'), 'America/New_York'))")
      .getLong(0) == one("unix_millis(todatetime('2024-01-15 07:00:00'))").getLong(0))
    // round-trip through the inverse
    assert(one("unix_millis(datetime_local_to_utc(datetime_utc_to_local(" +
      "todatetime('2024-06-15 12:00:00'), 'Europe/Paris'), 'Europe/Paris'))")
      .getLong(0) == one("unix_millis(todatetime('2024-06-15 12:00:00'))").getLong(0))
    // non-literal zone rejects loudly
    intercept[IllegalArgumentException] {
      KqlParser.run("T | project r = datetime_utc_to_local(now(), c)", reg).collect()
    }
    // array_index_of optional arms: start / length / occurrence,
    // negative start, out-of-range occurrence, empty array
    assert(one("toint(array_index_of(pack_array(5, 7, 5, 7, 5), 5, 1))").getInt(0) == 2)
    assert(one("toint(array_index_of(pack_array(5, 7, 5, 7, 5), 5, 0, -1, 3))").getInt(0) == 4)
    assert(one("toint(array_index_of(pack_array(5, 7, 5, 7, 5), 5, 0, 1, 2))").getInt(0) == -1)
    assert(one("toint(array_index_of(pack_array(5, 7, 5, 7, 5), 7, -2))").getInt(0) == 3)
    assert(one("toint(array_index_of(pack_array(5), 9, 0, -1, 1))").getInt(0) == -1)
  }

  test("parser: extractjson + parse_command_line — paths and argv rules") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    assert(one("""tostring(extractjson('$.a.b', '{"a":{"b":"v"}}'))""")
      .getString(0) == "v")
    assert(one("""extractjson('$.xs[1]', '{"xs":[3,5,7]}', typeof(long))""")
      .getLong(0) == 5L)
    assert(one("""extract_json('$.m', '{"m":2}', typeof(int))""").getInt(0) == 2)
    assert(one("""extractjson('$.missing', '{"m":2}', typeof(long))""").isNullAt(0))
    intercept[IllegalArgumentException] {
      KqlParser.run("T | project r = extractjson(c, '{}')", reg).collect()
    }
    // argv rules (MSDN): quotes group, 2n/2n+1 backslash-quote rule,
    // "" inside quotes is a literal quote, blanks split. Backslash
    // and quote are BUILT from codepoints (92/34) so no string passes
    // through three escape layers.
    def argv(cmdExpr: String) = KqlParser.run(
      "T | extend bs = unicode_codepoints_to_string(pack_array(92)), " +
        "qq = unicode_codepoints_to_string(pack_array(34)) " +
        s"| project r = parse_command_line($cmdExpr, 'windows')", reg)
      .head().getSeq[String](0)
    assert(argv("'a b  c'") == Seq("a", "b", "c"))
    assert(argv("strcat('x ', qq, 'a b', qq, ' y')") == Seq("x", "a b", "y"))
    // 2 backslashes + quote: one literal backslash, quote toggles
    assert(argv("strcat('a', bs, bs, qq, 'b')") == Seq("a\\b"))
    // odd run: backslash-escaped literal quote
    assert(argv("strcat('a', bs, qq, 'b')") == Seq("a\"b"))
    // "" inside quotes emits a literal quote and stays in quotes
    assert(argv("strcat(qq, 'he said ', qq, qq, 'hi', qq, qq, qq, ' end')")
      == Seq("he said \"hi\"", "end"))
    // backslashes not before a quote are literal
    assert(argv("strcat('C:', bs, 'tmp', bs, 'f.txt')") == Seq("C:\\tmp\\f.txt"))
    assert(one("parse_command_line('   ', 'windows')").isNullAt(0))
    intercept[IllegalArgumentException] {
      KqlParser.run("T | project r = parse_command_line('a', 'posix')", reg).collect()
    }
  }

  test("parser: url codecs + parse_csv — byte walks, RFC 4180 machine") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    assert(one("url_encode('a b=c')").getString(0) == "a+b%3dc")
    assert(one("url_encode_component('a b=c')").getString(0) == "a%20b%3dc")
    assert(one("url_encode_component('A-z_0.~')").getString(0) == "A-z_0.~")
    // multi-byte characters percent-encode byte-by-byte (UTF-8)
    assert(one("url_encode_component('é')").getString(0) == "%c3%a9")
    assert(one("url_decode('%c3%a9')").getString(0) == "é")
    assert(one("url_decode('a+b%3Dc')").getString(0) == "a b=c")
    assert(one("url_decode('100%25')").getString(0) == "100%")
    assert(one("url_decode('')").getString(0) == "")
    assert(one("url_encode('')").getString(0) == "")
    // malformed percent escapes → null
    assert(one("url_decode('bad%x1')").isNullAt(0))
    assert(one("url_decode('trail%')").isNullAt(0))
    // round-trip both variants
    assert(one("url_decode(url_encode('q=a&b c/d!'))").getString(0) == "q=a&b c/d!")
    assert(one("url_decode(url_encode_component('q=a&b c/d!'))").getString(0) == "q=a&b c/d!")
    // parse_csv: quotes, escaped quotes, embedded commas and newlines
    assert(one("strcat_array(parse_csv('a,b,c'), '/')").getString(0) == "a/b/c")
    assert(one("strcat_array(parse_csv('1,\"x,y\",z'), '/')").getString(0) == "1/x,y/z")
    assert(one("strcat_array(parse_csv('\"he said \"\"hi\"\"\",2'), '/')")
      .getString(0) == "he said \"hi\"/2")
    assert(one("tolong(array_length(parse_csv(',,')))").getLong(0) == 3L)
    assert(one("strcat_array(parse_csv('\"line1\nline2\",b'), '/')")
      .getString(0) == "line1\nline2/b")
    // dangling quote → null (loud-malformed convention)
    assert(one("parse_csv('a,\"open')").isNullAt(0))
  }

  test("parser: erf/erfc/beta_inv — series + safeguarded-Newton chains") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    assert(one("erf(0.0)").getDouble(0) == 0.0)
    assert(math.abs(one("erf(1.0)").getDouble(0) - 0.8427007929497149) < 1e-12)
    assert(math.abs(one("erf(2.5)").getDouble(0) - 0.999593047982555) < 1e-12)
    assert(one("erf(-1.0)").getDouble(0) == -one("erf(1.0)").getDouble(0))
    assert(one("erf(7.0)").getDouble(0) == 1.0) // saturation branch
    assert(math.abs(one("erfc(0.5)").getDouble(0) - 0.4795001221869535) < 1e-12)
    assert(math.abs(one("erfc(-0.5)").getDouble(0) - 1.5204998778130465) < 1e-12)
    // beta_inv: symmetric-median exactness, cdf round-trip, edges
    assert(math.abs(one("beta_inv(0.5, 2.0, 2.0)").getDouble(0) - 0.5) < 1e-10)
    assert(math.abs(one("beta_cdf(beta_inv(0.3, 2.0, 3.0), 2.0, 3.0)").getDouble(0)
      - 0.3) < 1e-9)
    assert(math.abs(one("beta_cdf(beta_inv(0.95, 0.5, 1.5), 0.5, 1.5)").getDouble(0)
      - 0.95) < 1e-9)
    assert(one("beta_inv(0.0, 2.0, 2.0)").getDouble(0) == 0.0)
    assert(one("beta_inv(1.0, 2.0, 2.0)").getDouble(0) == 1.0)
    assert(one("beta_inv(1.5, 2.0, 2.0)").isNullAt(0))
    assert(one("beta_inv(0.5, -1.0, 2.0)").isNullAt(0))
  }

  test("parser: series trig tier — libm lambdas, asin/acos domain → null") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    val sins = one("series_sin(pack_array(0.0, 1.0))").getSeq[Double](0)
    assert(sins(0) == 0.0 && math.abs(sins(1) - math.sin(1.0)) < 1e-15)
    val coss = one("series_cos(pack_array(0.0))").getSeq[Double](0)
    assert(coss(0) == 1.0)
    assert(math.abs(one("series_sum(series_tan(pack_array(0.5)))").getDouble(0)
      - math.tan(0.5)) < 1e-15)
    assert(math.abs(one("series_sum(series_atan(pack_array(2.0)))").getDouble(0)
      - math.atan(2.0)) < 1e-15)
    // out-of-domain asin/acos → null element (never NaN), which
    // propagates through the series_sum fold
    val asr = one("series_asin(pack_array(0.5, 2.0))").getSeq[Any](0)
    assert(asr(0) == math.asin(0.5) && asr(1) == null)
    assert(one("series_sum(series_acos(pack_array(0.5, -2.0)))").isNullAt(0))
  }

  test("parser: r17 wave — ipv4_is_match / hash tier 2 / geo_azimuth & dist-to-polygon") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // ipv4_is_match: effective prefix = min(each side's /p, optional arg)
    assert(one("ipv4_is_match('192.168.1.1', '192.168.1.1')").getBoolean(0))
    assert(!one("ipv4_is_match('192.168.1.1', '192.168.1.9')").getBoolean(0))
    assert(one("ipv4_is_match('192.168.1.1/24', '192.168.1.200')").getBoolean(0))
    assert(one("ipv4_is_match('10.0.0.1/16', '10.0.200.1/24')").getBoolean(0))
    assert(one("ipv4_is_match('192.168.1.1', '192.168.1.9', 24)").getBoolean(0))
    assert(one("ipv4_is_match('300.1.2.3', '10.0.0.1')").isNullAt(0))
    // hash tier 2: hash_xxhash64 IS hash's kernel; hash_combine is
    // argument-order sensitive; hash_many mixes every argument; the
    // mod form stays in [0, mod)
    assert(one("hash_xxhash64('a')").getLong(0) == one("hash('a')").getLong(0))
    assert(one("hash_combine(hash('a'), hash('b'))").getLong(0) !=
      one("hash_combine(hash('b'), hash('a'))").getLong(0))
    assert(one("hash_many('a', 1)").getLong(0) != one("hash_many('a', 2)").getLong(0))
    val hx = one("hash_xxhash64('abc', 97)").getLong(0)
    assert(hx >= 0L && hx < 97L)
    // geo_azimuth: compass anchors from the origin (atan2 form) —
    // north 0, east π/2, south π, west 3π/2; invalid coordinate → null
    assert(one("geo_azimuth(0.0, 0.0, 0.0, 1.0)").getDouble(0) == 0.0)
    assert(math.abs(one("geo_azimuth(0.0, 0.0, 1.0, 0.0)").getDouble(0)
      - math.Pi / 2) < 1e-9)
    assert(math.abs(one("geo_azimuth(0.0, 0.0, 0.0, -1.0)").getDouble(0)
      - math.Pi) < 1e-12)
    assert(math.abs(one("geo_azimuth(0.0, 0.0, -1.0, 0.0)").getDouble(0)
      - 3 * math.Pi / 2) < 1e-9)
    assert(one("geo_azimuth(200.0, 0.0, 0.0, 0.0)").isNullAt(0))
    // geo_distance_point_to_polygon: inside → exactly 0; one degree of
    // latitude below the bottom edge → exactly the kernel's 110574
    // m/deg scale (the nearest-edge projection is axis-aligned)
    val sq = "parse_json('{\"type\":\"Polygon\",\"coordinates\":" +
      "[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]]]}')"
    assert(one(s"geo_distance_point_to_polygon(0.5, 0.5, $sq)").getDouble(0) == 0.0)
    assert(math.abs(one(s"geo_distance_point_to_polygon(0.5, -1.0, $sq)").getDouble(0)
      - 110574.0) < 1e-6)
    // geo_angle: clockwise at the shared vertex — north ray to east
    // ray is π/2; invalid coordinate → null
    assert(math.abs(one("geo_angle(0.0, 1.0, 0.0, 0.0, 1.0, 0.0)").getDouble(0)
      - math.Pi / 2) < 1e-9)
    assert(one("geo_angle(0.0, 1.0, 200.0, 0.0, 1.0, 0.0)").isNullAt(0))
    // geo_closest_point_on_polygon: inside → the point itself; due
    // south of the unit square's bottom edge → the axis-aligned foot
    def cpOf(lonLat: String) = KqlParser.run(
      s"T | extend cp = geo_closest_point_on_polygon($lonLat, $sq) " +
        "| project r = tostring(cp.coordinates)", reg).head()
    assert(cpOf("0.5, 0.5").getString(0) == "[0.5,0.5]")
    assert(cpOf("0.5, -1.0").getString(0) == "[0.5,0]")
    // geo_s2cell_to_polygon: closed 5-vertex ring containing the
    // cell's own central point; malformed token → null
    val ringChk = KqlParser.run(
      "T | extend cell = geo_point_to_s2cell(10.0, 50.0, 7) " +
        "| extend cpoly = geo_s2cell_to_polygon(cell), cc = geo_s2cell_to_central_point(cell) " +
        "| project closed = tostring(cpoly.coordinates[0][0]) == tostring(cpoly.coordinates[0][4]), " +
        "beyond = tostring(cpoly.coordinates[0][5]), " +
        "cin = geo_point_in_polygon(todouble(cc.coordinates[0]), todouble(cc.coordinates[1]), cpoly)",
      reg).head()
    assert(ringChk.getBoolean(0) && ringChk.isNullAt(1) && ringChk.getBoolean(2))
    assert(one("geo_s2cell_to_polygon('zzzz')").isNullAt(0))
  }

  test("parser: r17 wave — replace_strings / bag_pack_columns / punycode domains / periods_validate") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // replace_strings: SEQUENTIAL pairs (the second replacement sees
    // the first's output); length mismatch → null
    assert(one("replace_strings('New Delhi', dynamic(['New ', 'e']), dynamic(['Old ', 'E']))")
      .getString(0) == "Old DElhi")
    assert(one("replace_strings('x', dynamic(['a']), dynamic([]))").isNullAt(0))
    // bag_pack_columns: keys are the COLUMN NAMES; the VARIANT
    // round-trip normalizes key order to SORTED (the engine's bag
    // convention — same as bag_pack); computed expressions rejected
    // loudly
    val reg2 = Map("O" -> Seq((1, "a")).toDF("id", "name"))
    assert(KqlParser.run("O | project r = tostring(bag_pack_columns(name, id))", reg2)
      .head().getString(0) == """{"id":1,"name":"a"}""")
    intercept[IllegalArgumentException] {
      KqlParser.run("O | project r = bag_pack_columns(id + 1)", reg2)
    }
    // punycode domains: per-label ACE with the RFC 3492 vector;
    // ASCII labels pass through; malformed ACE label nulls the WHOLE
    // result (not a silently-dropped label)
    assert(one("punycode_domain_from_string('bücher.example.com')")
      .getString(0) == "xn--bcher-kva.example.com")
    assert(one("punycode_domain_to_string('xn--bcher-kva.example.com')")
      .getString(0) == "bücher.example.com")
    assert(one("punycode_domain_to_string(punycode_domain_from_string('münchen.straße.de'))")
      .getString(0) == "münchen.straße.de")
    assert(one("punycode_domain_to_string('xn--###.com')").isNullAt(0))
    // series_periods_validate: scores the GIVEN lags in argument order
    // with the periods_detect kernel — [1,0,1,0,1,0] has overlap dot
    // 2.0 at lag 2 and 0.0 at lag 3
    val pv = KqlParser.run(
      "T | extend pv = series_periods_validate(pack_array(1.0, 0.0, 1.0, 0.0, 1.0, 0.0), 2, 3) " +
        "| project p1 = tolong(pv.periods[0]), s1 = pv.scores[0], " +
        "p2 = tolong(pv.periods[1]), s2 = pv.scores[1]", reg).head()
    assert(pv.getLong(0) == 2L && pv.getDouble(1) == 2.0 &&
      pv.getLong(2) == 3L && pv.getDouble(3) == 0.0)
  }

  test("parser: r17 line walk — geo_line_locate_point / geo_line_interpolate_point") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // equator segment [0,0]→[1,0]: kx = 111320·cos(0 mean-lat... the
    // mean lat is 0 so kx = 111320); the foot of (0.5, 0.5) is at
    // lon 0.5 → 0.5·111320 m from the start
    val eq = """parse_json('{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0]]}')"""
    assert(one(s"geo_line_locate_point($eq, 0.5, 0.5)").getDouble(0) == 0.5 * 111320.0)
    // before the start clamps to 0; past the end clamps to the total
    assert(one(s"geo_line_locate_point($eq, -2.0, 0.0)").getDouble(0) == 0.0)
    assert(one(s"geo_line_locate_point($eq, 3.0, 0.0)").getDouble(0) == 111320.0)
    assert(one(s"geo_line_locate_point($eq, 200.0, 0.0)").isNullAt(0))
    // interpolate: halfway in meters lands at lon 0.5; clamps land on
    // the endpoints
    def ipt(d: String) = KqlParser.run(
      s"T | extend p = geo_line_interpolate_point($eq, $d) " +
        "| project r = tostring(p.coordinates)", reg).head().getString(0)
    assert(ipt("55660.0") == "[0.5,0]")
    assert(ipt("-5.0") == "[0,0]")
    assert(ipt("999999.0") == "[1,0]")
    // round-trip: interpolate at locate's answer recovers the foot
    val rt = KqlParser.run(
      s"T | extend p = geo_line_interpolate_point($eq, geo_line_locate_point($eq, 0.25, 1.0)) " +
        "| project r = tostring(p.coordinates)", reg).head().getString(0)
    assert(rt == "[0.25,0]")
  }

  test("parser: r17 intersects predicates — 2polygons / line_with_polygon") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    def sq(x0: Double, y0: Double, s: Double) =
      s"""parse_json('{"type":"Polygon","coordinates":[[[$x0,$y0],[${x0 + s},$y0],[${x0 + s},${y0 + s}],[$x0,${y0 + s}],[$x0,$y0]]]}')"""
    def ln(ax: Double, ay: Double, bx: Double, by: Double) =
      s"""parse_json('{"type":"LineString","coordinates":[[$ax,$ay],[$bx,$by]]}')"""
    // polygons: crossing, containment (no edge crossing), disjoint
    assert(one(s"geo_intersects_2polygons(${sq(0, 0, 2)}, ${sq(1, 1, 2)})").getBoolean(0))
    assert(one(s"geo_intersects_2polygons(${sq(0, 0, 10)}, ${sq(4, 4, 1)})").getBoolean(0))
    assert(one(s"geo_intersects_2polygons(${sq(4, 4, 1)}, ${sq(0, 0, 10)})").getBoolean(0))
    assert(!one(s"geo_intersects_2polygons(${sq(0, 0, 1)}, ${sq(5, 5, 1)})").getBoolean(0))
    // line: crossing, wholly inside, outside
    assert(one(s"geo_intersects_line_with_polygon(${ln(-1, 1, 3, 1)}, ${sq(0, 0, 2)})").getBoolean(0))
    assert(one(s"geo_intersects_line_with_polygon(${ln(0.5, 0.5, 1.5, 1.5)}, ${sq(0, 0, 2)})").getBoolean(0))
    assert(!one(s"geo_intersects_line_with_polygon(${ln(5, 5, 6, 6)}, ${sq(0, 0, 2)})").getBoolean(0))
    // malformed geometry → null
    assert(one(s"geo_intersects_line_with_polygon(parse_json('{}'), ${sq(0, 0, 2)})").isNullAt(0))
  }

  test("parser: r17 tdigest tier — equi-depth digest, percentile/rank reads, merge") {
    val reg = Map("T" -> (1 to 64).map(i => ("g", i)).toDF("k", "v"))
    // 64 values, one group → 32 centroids of w=2; centroid ci's mean is
    // 2ci + 1.5. p50 target = 32 → centroid 15 (cum 32) → 31.5; p100 →
    // the last centroid 63.5; rank(32) counts the 16 centroids ≤ 32.
    val r = KqlParser.run(
      "T | summarize d = tdigest(v) by k " +
        "| project p50 = percentile_tdigest(d, 50), p100 = percentile_tdigest(d, 100), " +
        "rk = rank_tdigest(d, 32), nc = tolong(array_length(d))", reg).head()
    assert(r.getDouble(0) == 31.5 && r.getDouble(1) == 63.5 &&
      r.getDouble(2) == 50.0 && r.getLong(3) == 32L)
    // merge: two 2-value groups pool to 4 unit-weight centroids; the
    // equal-weight re-chunk keeps them distinct (N=4 → chunks 0/8/16/24)
    val reg2 = Map("T" -> Seq(("a", 1), ("a", 2), ("b", 3), ("b", 4)).toDF("k", "v"))
    val m = KqlParser.run(
      "T | summarize d = tdigest(v) by k | summarize md = tdigest_merge(d) " +
        "| project gp50 = percentile_tdigest(md, 50), grk = rank_tdigest(md, 2.5), " +
        "gnc = tolong(array_length(md))", reg2).head()
    assert(m.getDouble(0) == 2.0 && m.getDouble(1) == 50.0 && m.getLong(2) == 4L)
    // empty-group read → null
    val e = KqlParser.run(
      "T | where v > 99 | summarize d = tdigest(v) by k " +
        "| project p = percentile_tdigest(d, 50)", reg2)
    assert(e.count() == 0L)
  }

  test("parser: r18 buffer/simplify/boolean geometry tier") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    def sq(x0: Double, y0: Double, s: Double) =
      s"""parse_json('{"type":"Polygon","coordinates":[[[$x0,$y0],[${x0 + s},$y0],[${x0 + s},${y0 + s}],[$x0,${y0 + s}],[$x0,$y0]]]}')"""
    // point buffer: polygon of 16 vertices around the point
    val pb = KqlParser.run(
      "T | extend g = geo_point_buffer(10.0, 0.0, 50000.0) " +
        "| project t = tostring(g.type), " +
        "  inside = geo_point_in_polygon(10.0, 0.0, g), " +
        "  outside = geo_point_in_polygon(11.0, 0.0, g)", reg).head()
    assert(pb.getString(0) == "Polygon" && pb.getBoolean(1) && !pb.getBoolean(2))
    // line buffer covers points near the line, not far ones
    val lb = KqlParser.run(
      """T | extend ln = parse_json('{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.3]]}')""" +
        " | extend g = geo_line_buffer(ln, 30000.0)" +
        " | project t = tostring(g.type)," +
        "   nearmid = geo_point_in_polygon(0.5, 0.15, g)," +
        "   faraway = geo_point_in_polygon(0.5, 2.0, g)", reg).head()
    assert(lb.getString(0) == "Polygon" && lb.getBoolean(1) && !lb.getBoolean(2))
    // polygon buffer contains the polygon and a just-outside point
    val pgb = KqlParser.run(
      s"T | extend g = geo_polygon_buffer(${sq(0, 0, 1)}, 30000.0) " +
        "| project inside = geo_point_in_polygon(0.5, 0.5, g), " +
        "  nearout = geo_point_in_polygon(1.1, 0.5, g), " +
        "  farout = geo_point_in_polygon(3.0, 0.5, g)", reg).head()
    assert(pgb.getBoolean(0) && pgb.getBoolean(1) && !pgb.getBoolean(2))
    // simplify: ~111 m spike drops at 1 km tolerance, stays at 10 m
    val ls = KqlParser.run(
      """T | extend ln = parse_json('{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.001],[2.0,0.0]]}')""" +
        " | project n1000 = tostring(geo_line_simplify(ln, 1000.0))," +
        "   n10 = tostring(geo_line_simplify(ln, 10.0))", reg).head()
    assert(ls.getString(0) == """{"coordinates":[[0,0],[2,0]],"type":"LineString"}""")
    assert(ls.getString(1).contains("[1,0.001]"))
    // polygon simplify (default 10 m): square with a dent vertex
    val ps = KqlParser.run(
      """T | extend p = parse_json('{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.001],[2.0,0.0],[2.0,2.0],[0.0,2.0],[0.0,0.0]]]}')""" +
        " | project coarse = tostring(geo_polygon_simplify(p, 1000.0))," +
        "   fine = tostring(geo_polygon_simplify(p))", reg).head()
    assert(!ps.getString(0).contains("0.001") && ps.getString(1).contains("0.001"))
    // simplify array form
    val psa = KqlParser.run(
      s"T | extend ps = geo_simplify_polygons_array(pack_array(${sq(0, 0, 2)}, ${sq(5, 5, 2)}), 1000.0) " +
        "| project n = tolong(array_length(ps)), t0 = tostring(ps[0])", reg).head()
    assert(psa.getLong(0) == 2L && psa.getString(1).contains("\"type\":\"Polygon\""))
    // intersection of overlapping squares → their overlap rectangle
    val ix = KqlParser.run(
      s"T | extend g = geo_intersection_2polygons(${sq(0, 0, 4)}, ${sq(2, 2, 4)}) " +
        "| project t = tostring(g.type), " +
        "  a_in = geo_point_in_polygon(3.0, 3.0, g), " +
        "  a_out = geo_point_in_polygon(1.0, 1.0, g)", reg).head()
    assert(ix.getString(0) == "Polygon" && ix.getBoolean(1) && !ix.getBoolean(2))
    // disjoint intersection → empty GeometryCollection
    val ixe = KqlParser.run(
      s"T | extend g = geo_intersection_2polygons(${sq(0, 0, 1)}, ${sq(5, 5, 1)}) " +
        "| project t = tostring(g.type)", reg).head()
    assert(ixe.getString(0) == "GeometryCollection")
    // union of overlapping squares dissolves to one Polygon; disjoint → MultiPolygon
    val un = KqlParser.run(
      s"T | extend g1 = geo_union_polygons(pack_array(${sq(0, 0, 4)}, ${sq(2, 2, 4)})), " +
        s"  g2 = geo_union_polygons(pack_array(${sq(0, 0, 1)}, ${sq(5, 5, 1)})) " +
        "| project t1 = tostring(g1.type), t2 = tostring(g2.type)", reg).head()
    assert(un.getString(0) == "Polygon" && un.getString(1) == "MultiPolygon")
    // line ∩ polygon: the inside run of a through-line
    val clp = KqlParser.run(
      s"""T | extend ln = parse_json('{"type":"LineString","coordinates":[[-2.0,2.0],[6.0,2.0]]}')""" +
        s" | extend g = geo_intersection_line_with_polygon(ln, ${sq(0, 0, 4)})" +
        " | project s = tostring(g)", reg).head()
    assert(clp.getString(0) == """{"coordinates":[[0,2],[4,2]],"type":"LineString"}""")
    // union of lines → MultiLineString collection
    val ul = KqlParser.run(
      """T | extend g = geo_union_lines(pack_array(
        |parse_json('{"type":"LineString","coordinates":[[0.0,0.0],[1.0,1.0]]}'),
        |parse_json('{"type":"LineString","coordinates":[[2.0,2.0],[3.0,3.0]]}')))
        || project t = tostring(g.type)""".stripMargin, reg).head()
    assert(ul.getString(0) == "MultiLineString")
    // malformed → null
    assert(one("geo_polygon_buffer(parse_json('{}'), 10.0)").isNullAt(0))
    // r18 review pins: a null coordinate inside a pair nulls out
    // (previously unboxed to 0.0 and buffered the wrong point), and a
    // NaN radius nulls instead of crashing
    assert(one("""geo_line_buffer(parse_json('{"type":"LineString","coordinates":[[null,5.0],[1.0,5.0]]}'), 100.0)""").isNullAt(0))
    assert(one("geo_point_buffer(10.0, 0.0, sqrt(todouble(-1.0)))").isNullAt(0))
  }

  test("parser: r18 buildschema — union tree, nulls skipped, empty = dynamic") {
    import org.apache.spark.sql.Row
    val reg = Map("T" -> Seq(
      ("a", """{"x":1}"""),
      ("a", """{"x":2.5,"z":[true]}"""),
      ("a", null.asInstanceOf[String]),
      ("b", "null")).toDF("g", "v"))
    val r = KqlParser.run(
      "T | extend dv = todynamic(v) | summarize sc = buildschema(dv) by g " +
        "| project g, s = tostring(dynamic_to_json(sc)) | sort by g asc",
      reg).collect()
    assert(r.toSeq == Seq(
      Row("a", """{"x":["double","long"],"z":{"`indexer`":"bool"}}"""),
      // a group with only JSON-null evidence has no typed paths
      Row("b", "\"dynamic\"")))
    // groupless form + deep nesting
    val g = KqlParser.run(
      "T | where g == 'a' | extend dv = todynamic(v) " +
        "| summarize sc = buildschema(dv) " +
        "| project s = tostring(dynamic_to_json(sc))", reg).head()
    assert(g.getString(0) == """{"x":["double","long"],"z":{"`indexer`":"bool"}}""")
  }

  test("parser: r18 two-level tdigest — mixed aggregates, computed keys, groupless") {
    // the r18 rebuild routes tdigest through a windowed sub-plan
    // joined back to the base aggregate — pin the MIXED list (digest +
    // plain aggs in one summarize), a COMPUTED group key, and the
    // groupless total-sort path (none covered by the r17 test)
    val reg = Map("T" -> (1 to 64).map(i => ("g" + (i % 2), i)).toDF("k", "v"))
    val r = KqlParser.run(
      "T | summarize d = tdigest(v), c = count(), s = sum(v) by k " +
        "| extend p50 = percentile_tdigest(d, 50) " +
        "| project k, c, s, p50 | sort by k asc", reg).collect()
    assert(r.length == 2)
    // k = g0: evens 2..64 (32 values, sum 1056); k = g1: odds 1..63
    assert(r(0).getString(0) == "g0" && r(0).getLong(1) == 32L &&
      r(0).getLong(2) == 1056L && r(0).getDouble(3) == 32.0)
    assert(r(1).getString(0) == "g1" && r(1).getLong(1) == 32L &&
      r(1).getLong(2) == 1024L && r(1).getDouble(3) == 31.0)
    // computed group key keeps its name and value
    val b = KqlParser.run(
      "T | summarize d = tdigest(v) by bucket = bin(v, 32) " +
        "| extend p = percentile_tdigest(d, 100) " +
        "| project bucket = tolong(bucket), p | sort by bucket asc", reg).collect()
    assert(b.map(_.getLong(0)).toSeq == Seq(0L, 32L, 64L) &&
      b.map(_.getDouble(1)).toSeq == Seq(31.0, 63.0, 64.0))
    // groupless digest (total sort + per-partition offsets, no window)
    val g = KqlParser.run(
      "T | summarize d = tdigest(v) " +
        "| project p50 = percentile_tdigest(d, 50), nc = tolong(array_length(d))",
      reg).head()
    assert(g.getDouble(0) == 31.5 && g.getLong(1) == 32L)
  }

  test("parser: r18 ipv4_range_to_cidr_list — greedy minimal cover") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def cidrs(a: String, b: String): Seq[String] = {
      val r = KqlParser.run(
        s"T | project r = ipv4_range_to_cidr_list('$a', '$b')", reg).head()
      if (r.isNullAt(0)) null else r.getSeq[String](0)
    }
    assert(cidrs("10.0.0.1", "10.0.0.6") ==
      Seq("10.0.0.1/32", "10.0.0.2/31", "10.0.0.4/31", "10.0.0.6/32"))
    assert(cidrs("10.0.0.0", "10.0.0.255") == Seq("10.0.0.0/24"))
    assert(cidrs("0.0.0.0", "255.255.255.255") == Seq("0.0.0.0/0"))
    assert(cidrs("1.2.3.4", "1.2.3.4") == Seq("1.2.3.4/32"))
    assert(cidrs("192.168.1.255", "192.168.2.1") ==
      Seq("192.168.1.255/32", "192.168.2.0/31"))
    // start > end and malformed → null (ADX's null-on-invalid)
    assert(cidrs("10.0.0.6", "10.0.0.1") == null)
    assert(cidrs("10.0.0.x", "10.0.0.1") == null)
  }

  test("parser: r18 geo_h3cell_compact / geo_h3cell_uncompact — sibling folds") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    val r = KqlParser.run(
      "T | extend c = geo_point_to_h3cell(2.35, 48.86, 4) " +
        "| extend ch = geo_h3cell_children(c, 5) " +
        "| extend cc = geo_h3cell_compact(ch), " +
        "  uc = geo_h3cell_uncompact(pack_array(c), 5), " +
        "  rt = geo_h3cell_uncompact(geo_h3cell_compact(ch), 5) " +
        "| project nch = tolong(array_length(ch)), " +
        "  ok_c = tolong(iff(array_length(cc) == 1 and tostring(cc[0]) == c, 1, 0)), " +
        "  ok_u = tolong(iff(tostring(uc) == tostring(array_sort_asc(ch)), 1, 0)), " +
        "  ok_rt = tolong(iff(tostring(rt) == tostring(array_sort_asc(ch)), 1, 0))",
      reg).head()
    assert(r.getLong(0) >= 5L, "a res-4 cell should have several children")
    assert(r.getLong(1) == 1L, "compact(children(c)) must fold to [c]")
    assert(r.getLong(2) == 1L, "uncompact([c]) must equal children(c)")
    assert(r.getLong(3) == 1L, "uncompact(compact(S)) must round-trip S")
    // an INCOMPLETE sibling set must not fold; same-res uncompact is
    // identity; invalid tokens null out
    val r2 = KqlParser.run(
      "T | extend c = geo_point_to_h3cell(2.35, 48.86, 4) " +
        "| extend ch = geo_h3cell_children(c, 5) " +
        "| extend part = array_slice(ch, 1, array_length(ch) - 1) " +
        "| extend cp = geo_h3cell_compact(part) " +
        "| project ok_p = tolong(iff(tostring(cp) == tostring(array_sort_asc(part)), 1, 0)), " +
        "  ok_id = tolong(iff(tostring(geo_h3cell_uncompact(pack_array(c), 4)) " +
        "    == tostring(pack_array(c)), 1, 0)), " +
        "  bad = geo_h3cell_compact(pack_array('nope'))", reg).head()
    assert(r2.getLong(0) == 1L, "a partial sibling set must stay unfolded")
    assert(r2.getLong(1) == 1L)
    assert(r2.isNullAt(2))
  }

  test("parser: r18 geo_intersection_2lines — point / multipoint / empty / null") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def ln(pts: (Double, Double)*) =
      s"""parse_json('{"type":"LineString","coordinates":[${
        pts.map { case (x, y) => s"[$x,$y]" }.mkString(",")}]}')"""
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // proper crossing → Point (1, 1)
    val cross = one(s"geo_intersection_2lines(${ln((0, 0), (2, 2))}, ${ln((0, 2), (2, 0))})")
    val crossed = KqlParser.run(
      s"T | extend g = geo_intersection_2lines(${ln((0, 0), (2, 2))}, ${ln((0, 2), (2, 0))}) " +
        "| project t = tostring(g.type), x = todouble(g.coordinates[0]), " +
        "  y = todouble(g.coordinates[1])", reg).head()
    assert(!cross.isNullAt(0))
    assert(crossed.getString(0) == "Point" &&
      crossed.getDouble(1) == 1.0 && crossed.getDouble(2) == 1.0)
    // endpoint touch → that endpoint, exactly
    val touch = KqlParser.run(
      s"T | extend g = geo_intersection_2lines(${ln((0, 0), (1, 1))}, ${ln((1, 1), (2, 0))}) " +
        "| project t = tostring(g.type), x = todouble(g.coordinates[0])", reg).head()
    assert(touch.getString(0) == "Point" && touch.getDouble(1) == 1.0)
    // collinear overlap → the overlap-segment endpoints as MultiPoint
    val over = KqlParser.run(
      s"T | extend g = geo_intersection_2lines(${ln((0, 0), (2, 0))}, ${ln((1, 0), (3, 0))}) " +
        "| project t = tostring(g.type), " +
        "  x0 = todouble(g.coordinates[0][0]), x1 = todouble(g.coordinates[1][0]), " +
        "  x2 = todouble(g.coordinates[2][0])", reg).head()
    assert(over.getString(0) == "MultiPoint" &&
      over.getDouble(1) == 1.0 && over.getDouble(2) == 2.0 && over.isNullAt(3))
    // disjoint → empty GeometryCollection; consistency with the predicate
    val none = KqlParser.run(
      s"T | extend g = geo_intersection_2lines(${ln((0, 0), (1, 0))}, ${ln((5, 5), (6, 6))}) " +
        s"| project t = tostring(g.type), e = tostring(g.geometries), " +
        s"  p = geo_intersects_2lines(${ln((0, 0), (1, 0))}, ${ln((5, 5), (6, 6))})", reg).head()
    assert(none.getString(0) == "GeometryCollection" && none.getString(1) == "[]" &&
      !none.getBoolean(2))
    // malformed → null
    assert(one(s"geo_intersection_2lines(parse_json('{}'), ${ln((0, 0), (1, 1))})").isNullAt(0))
  }

  test("parser: r17 closers — isutf8/new_guid/dynamic_to_json/unixtime_nanos/series_stats/consume") {
    val reg = Map("T" -> Seq(Tuple1("x")).toDF("c"))
    def one(e: String) = KqlParser.run(s"T | project r = $e", reg).head()
    // isutf8: trivially true for any non-null string (deviation doc'd)
    assert(one("isutf8('héx')").getBoolean(0))
    assert(one("isutf8(tostring(parse_json('null')))").isNullAt(0))
    // new_guid: nondeterministic — pin format + per-call uniqueness
    val g = KqlParser.run("T | project a = new_guid(), b = new_guid()", reg).head()
    assert(g.getString(0).matches("[0-9a-f-]{36}") && g.getString(0) != g.getString(1))
    // dynamic_to_json: canonical form with SORTED keys
    assert(one("dynamic_to_json(parse_json('{\"b\":2,\"a\":1}'))")
      .getString(0) == """{"a":1,"b":2}""")
    // unixtime_nanoseconds_todatetime truncates to micros
    assert(one("datetime_diff('second', unixtime_nanoseconds_todatetime(1700000000000000000), datetime(1970-01-01))")
      .getLong(0) == 1700000000L)
    // series_stats = the _dynamic bag (tuple-assign deviation doc'd)
    assert(one("tolong(series_stats(pack_array(3.0, 1.0, 2.0)).min)").getLong(0) == 1L)
    // consume: executes, emits zero rows, keeps the schema
    val consumed = KqlParser.run("T | extend v = 1 | consume", reg)
    assert(consumed.columns.toSeq == Seq("c", "v") && consumed.count() == 0L)
  }
}
