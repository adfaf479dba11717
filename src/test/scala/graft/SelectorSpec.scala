package graft

import graft.selector._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{lit, struct}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Parser round-trip (SURVEY.md §5.4): any AST pretty-printed in the
  * canonical fully-parenthesized form must re-parse to the identical
  * AST. Plus direct grammar/error cases, the compiled operand order, and
  * one Spark-backed property: verdicts never depend on operand order.
  */
class SelectorSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local("4")

  private val genIdent: Gen[Expr] =
    Gen.oneOf("value", "event_type", "user_id", "props.k", "flag",
      "JMSTimestamp", "JMSPriority", "JMSXDeliveryCount", "JMSType",
      "JMSMessageID", "JMSDeliveryMode", "JMSCorrelationID").map(Ident.apply)

  private val genLeaf: Gen[Expr] = Gen.oneOf(
    genIdent,
    Gen.choose(0L, 999L).map(LongL.apply),
    Gen.choose(0.0, 500.0).map(d => DoubleL(math.rint(d * 100) / 100)),
    Gen.alphaNumStr.map(s => StrL(s.take(8))),
    Gen.oneOf(BoolL(true), BoolL(false)))

  private def genExpr(depth: Int): Gen[Expr] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      2 -> genLeaf,
      2 -> (for { l <- genExpr(depth - 1); r <- genExpr(depth - 1); op <- Gen.oneOf("=", "<>", "<", "<=", ">", ">=") } yield Cmp(op, l, r)),
      2 -> (for { l <- genExpr(depth - 1); r <- genExpr(depth - 1); op <- Gen.oneOf('+', '-', '*', '/') } yield Arith(op, l, r)),
      1 -> genExpr(depth - 1).map(Not.apply),
      1 -> genExpr(depth - 1).map(Neg.apply),
      2 -> (for { l <- genExpr(depth - 1); r <- genExpr(depth - 1) } yield And(l, r)),
      2 -> (for { l <- genExpr(depth - 1); r <- genExpr(depth - 1) } yield Or(l, r)),
      1 -> (for { e <- genExpr(depth - 1); lo <- genLeaf; hi <- genLeaf; n <- Gen.oneOf(true, false) } yield Between(e, lo, hi, n)),
      1 -> (for { e <- genExpr(depth - 1); vs <- Gen.nonEmptyListOf(Gen.alphaNumStr.map(_.take(5))); n <- Gen.oneOf(true, false) } yield InList(e, vs, n)),
      1 -> (for { e <- genIdent; p <- Gen.alphaNumStr.map(_.take(6)); esc <- Gen.option(Gen.const('!')); n <- Gen.oneOf(true, false) } yield LikeP(e, p + "%", esc, n)),
      1 -> (for { e <- genExpr(depth - 1); n <- Gen.oneOf(true, false) } yield IsNull(e, n)))

  test("round-trip: parse(pretty(ast)) == ast, 500 random ASTs") {
    SelectorSpec.sample(genExpr(4), 42L, 500).foreach { ast =>
      val printed = Parser.pretty(ast)
      assert(Parser.parse(printed) === ast, s"via: $printed")
    }
  }

  test("precedence: OR < AND < NOT < comparison < additive < multiplicative") {
    assert(Parser.parse("a OR b AND c") ===
      Or(Ident("a"), And(Ident("b"), Ident("c"))))
    assert(Parser.parse("NOT a AND b") === And(Not(Ident("a")), Ident("b")))
    assert(Parser.parse("a + b * c > d - e / f") ===
      Cmp(">",
        Arith('+', Ident("a"), Arith('*', Ident("b"), Ident("c"))),
        Arith('-', Ident("d"), Arith('/', Ident("e"), Ident("f")))))
    assert(Parser.parse("(a OR b) AND c") ===
      And(Or(Ident("a"), Ident("b")), Ident("c")))
  }

  test("literals: quotes, doubles, exponents, booleans") {
    assert(Parser.parse("s = 'it''s'") === Cmp("=", Ident("s"), StrL("it's")))
    assert(Parser.parse("x = 1.5e2") === Cmp("=", Ident("x"), DoubleL(150.0)))
    assert(Parser.parse("x = .5") === Cmp("=", Ident("x"), DoubleL(0.5)))
    assert(Parser.parse("b = TRUE") === Cmp("=", Ident("b"), BoolL(true)))
    assert(Parser.parse("x = -3") === Cmp("=", Ident("x"), Neg(LongL(3))))
  }

  test("JMS composite forms") {
    assert(Parser.parse("x NOT BETWEEN 1 AND 2") ===
      Between(Ident("x"), LongL(1), LongL(2), negated = true))
    assert(Parser.parse("t IN ('a', 'b')") ===
      InList(Ident("t"), List("a", "b"), negated = false))
    assert(Parser.parse("t NOT LIKE 'a!_%' ESCAPE '!'") ===
      LikeP(Ident("t"), "a!_%", Some('!'), negated = true))
    assert(Parser.parse("x IS NOT NULL") === IsNull(Ident("x"), negated = true))
    assert(Parser.parse("props.k >= 50") ===
      Cmp(">=", Ident("props.k"), LongL(50)))
  }

  test("JMS header identifiers compile through the events resolver") {
    // resolution-level check (no Spark session): every §3.8 header name
    // must compile to a Column instead of falling through to the
    // props-bag lookup — the r05 gap was a selector naming
    // JMSXDeliveryCount silently reading the (absent) props key
    for (sel <- Seq(
      "JMSTimestamp >= 1705000000000",
      "JMSPriority BETWEEN 3 AND 8",
      "JMSXDeliveryCount < 3",
      "JMSType <> 'error'",
      "JMSMessageID LIKE 'ID:%'",
      "JMSDeliveryMode = 'PERSISTENT'",
      "JMSCorrelationID IS NULL"))
      assert(Selector.compileEvents(sel) != null, sel)
    // headers resolve to metadata expressions, not props lookups:
    // JMSPriority must reference props.k (its declared derivation)
    // while JMSXDeliveryCount must reference delivery_count
    assert(Selector.compileEvents("JMSXDeliveryCount < 3")
      .toString.contains("delivery_count"))
    assert(!Selector.compileEvents("JMSTimestamp > 0")
      .toString.contains("props"))
  }

  test("syntax errors throw ParseException") {
    for (bad <- Seq("a AND", "x IN (1, 2)", "x BETWEEN 1", "= 3", "x LIKE y",
      "a ESCAPE 'b'", "x == 3", "'unterminated", "x IS 3", "x NOT NULL", "a b"))
      assertThrows[Parser.ParseException](Parser.parse(bad))
  }

  private def probeCount(sel: String): Int =
    "get_json_object".r.findAllIn(Selector.compileEvents(sel).toString).size

  test("compiled order: metadata operands run before property probes, one probe per reference") {
    val s = Selector.compileEvents("props.k >= 50 AND event_type = 'x'").toString
    assert(s.indexOf("event_type") >= 0 &&
      s.indexOf("event_type") < s.indexOf("get_json_object"), s)
    val or = Selector.compileEvents("props.k >= 50 OR value > 3").toString
    assert(or.indexOf("value") < or.indexOf("get_json_object"), or)
    // nothing crosses an operand that divides: the guard stays first
    val div = Selector.compileEvents(
      "props.k > 1 AND value <> 0 AND 10 / value > 2 AND event_type = 'x'").toString
    assert(div.indexOf("value") < div.indexOf("get_json_object") &&
      div.indexOf("get_json_object") < div.indexOf("/") &&
      div.indexOf("/") < div.indexOf("event_type"), div)
    assert(probeCount("props.k >= 50 AND event_type = 'x' OR props.a < 3 AND value > 1") == 2)
    assert(probeCount("props.k IS NULL OR (user_id > 2 AND NOT (props.g LIKE 'u%'))") == 2)
  }

  test("eventsPacked rejects entry-level identifiers inside AND/OR chains with the named error") {
    // the probe classifier resolves identifiers too: the error for an
    // entry-level name must be the packed resolver's own, wherever the
    // name sits in a chain
    val m = struct(lit(1L).as("event_id"))
    for (sel <- Seq("props.k > 1 AND ts > 5",
        "event_type = 'x' OR JMSTimestamp >= 1705000000000",
        "JMSXDeliveryCount < 3 AND props.k > 1 AND value > 2")) {
      val e = intercept[IllegalArgumentException](Selector.compile(sel, Selector.eventsPacked(m)))
      assert(e.getMessage.startsWith("entry-level identifier '") &&
        e.getMessage.contains("is not available in packed (batched-entry) evaluation"),
        s"wrong error for '$sel': ${e.getMessage}")
    }
  }

  test("order independence: swapping every AND/OR operand pair never changes a verdict (500 random ASTs)") {
    import SelectorSpec._
    def swapped(e: Expr): Expr = e match {
      case And(l, r)             => And(swapped(r), swapped(l))
      case Or(l, r)              => Or(swapped(r), swapped(l))
      case Not(x)                => Not(swapped(x))
      case Neg(x)                => Neg(swapped(x))
      case Cmp(op, l, r)         => Cmp(op, swapped(l), swapped(r))
      case Arith(op, l, r)       => Arith(op, swapped(l), swapped(r))
      case Between(x, lo, hi, n) => Between(swapped(x), swapped(lo), swapped(hi), n)
      case InList(x, vs, n)      => InList(swapped(x), vs, n)
      case LikeP(x, p, esc, n)   => LikeP(swapped(x), p, esc, n)
      case IsNull(x, n)          => IsNull(swapped(x), n)
      case leaf                  => leaf
    }
    // no entry-level identifiers (JMSTimestamp, JMSXDeliveryCount) and,
    // by construction of the typed generator, no '/'
    val asts = sample(typedSelector(
      Seq("value", "event_id", "user_id", "props.k", "props.g", "JMSPriority"),
      Seq("event_type", "JMSType", "JMSMessageID", "JMSDeliveryMode",
        "JMSCorrelationID", "props.g")), 4242L, 500)
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = Seq(
      Row(1L, 10L, "purchase", 120.5, """{"k": "57", "g": "x"}"""),
      Row(2L, 11L, "click", 40.0, """{"g": "1"}"""),               // missing key
      Row(3L, 12L, "signup", 300.0, """{"k": "abc", "g": "y"}"""), // non-numeric
      Row(4L, 13L, "error", null, null),                           // NULL bag
      Row(5L, 14L, "view", 77.25, """{"k": "93"}"""),              // g absent
      Row(6L, 15L, null, 0.0, """{"k": null, "g": "2"}"""))        // JSON null
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    // the local frame folds in the optimizer (interpreted evaluation);
    // behind a repartition the projection runs as generated code
    for (frame <- Seq(local, local.repartition(1)); chunk <- asts.grouped(100)) {
      val cols = chunk.flatMap(a => Seq(a, swapped(a)))
        .map(a => Selector.compileExpr(a, Selector.events))
      val got = frame.orderBy("event_id").select(cols: _*).collect()
      for (row <- got; (ast, i) <- chunk.zipWithIndex)
        assert(Option(row.get(2 * i)) == Option(row.get(2 * i + 1)),
          s"verdict depends on operand order (row $row) for: ${Parser.pretty(ast)}")
    }
  }
}

object SelectorSpec {

  /** WELL-TYPED selectors over the given numeric and string identifiers.
    * JMS selectors are typed: the round-trip generator admits ill-typed
    * trees, a compiled evaluation cannot. Numeric and boolean productions
    * are separate, and there is no '/': under Spark 4's ANSI default a
    * zero divisor throws, and random operands reach zero (the '/' compile
    * path is oracle-covered by filter_arith). */
  def typedSelector(numIdents: Seq[String], strIdents: Seq[String]): Gen[Expr] = {
    val numIdent: Gen[Expr] = Gen.oneOf(numIdents).map(Ident.apply)
    val strIdent: Gen[Expr] = Gen.oneOf(strIdents).map(Ident.apply)
    val numLit: Gen[Expr] = Gen.oneOf(
      Gen.choose(0L, 400L).map(LongL.apply),
      Gen.choose(0.0, 400.0).map(d => DoubleL(math.rint(d * 100) / 100)))
    val strLit: Gen[Expr] =
      Gen.oneOf("purchase", "click", "error", "sign").map(StrL.apply)
    def genNum(depth: Int): Gen[Expr] =
      if (depth <= 0) Gen.oneOf(numIdent, numLit)
      else Gen.frequency(
        2 -> numIdent, 2 -> numLit,
        3 -> (for { l <- genNum(depth - 1); r <- genNum(depth - 1)
          op <- Gen.oneOf('+', '-', '*') } yield Arith(op, l, r)),
        1 -> genNum(depth - 1).map(Neg.apply))
    def genBool(depth: Int): Gen[Expr] = {
      val leaf = for { l <- numIdent; r <- numLit
        op <- Gen.oneOf("=", "<>", "<", "<=", ">", ">=") } yield Cmp(op, l, r)
      if (depth <= 0) leaf
      else Gen.frequency(
        3 -> (for { l <- genNum(depth - 1); r <- genNum(depth - 1)
          op <- Gen.oneOf("=", "<>", "<", "<=", ">", ">=") } yield Cmp(op, l, r)),
        2 -> (for { i <- strIdent; s <- strLit
          op <- Gen.oneOf("=", "<>") } yield Cmp(op, i, s)),
        1 -> (for { e <- numIdent; lo <- numLit; hi <- numLit
          n <- Gen.oneOf(true, false) } yield Between(e, lo, hi, n)),
        1 -> (for { e <- strIdent; n <- Gen.oneOf(true, false) }
          yield InList(e, List("purchase", "click"), n)),
        1 -> (for { e <- strIdent; n <- Gen.oneOf(true, false) }
          yield LikeP(e, "p%", None, n)),
        1 -> (for { e <- Gen.oneOf(numIdent, strIdent)
          n <- Gen.oneOf(true, false) } yield IsNull(e, n)),
        1 -> genBool(depth - 1).map(Not.apply),
        2 -> (for { l <- genBool(depth - 1); r <- genBool(depth - 1) } yield And(l, r)),
        2 -> (for { l <- genBool(depth - 1); r <- genBool(depth - 1) } yield Or(l, r)))
    }
    genBool(3)
  }

  /** `n` ASTs from `gen`, fixed seed, deterministic (plain ScalaCheck Gen
    * sampling: the scalatest+scalacheck bridge isn't on the classpath). */
  def sample(gen: Gen[Expr], seed: Long, n: Int): Seq[Expr] = {
    var s = Seed(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Expr]
    while (out.size < n) {
      gen.apply(Gen.Parameters.default, s).foreach(out += _)
      s = s.next
    }
    out.toSeq
  }
}
