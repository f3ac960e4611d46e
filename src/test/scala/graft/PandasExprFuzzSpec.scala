package graft

import org.apache.spark.sql.functions._
import graft.api.PandasExpr

import scala.util.Random

/** Differential fuzz for the pandas expression dialect itself (the
  * translator has produced two real parser bugs in two rounds:
  * same-precedence misassociation and floordiv operand duplication, plus
  * the `%` divisor-sign gap this generator found on its first run).
  *
  * Random expressions are drawn from the ACCEPTED dialect — flat
  * multiplicative chains (the translator folds them left-associatively),
  * single-`**` atoms at term heads, unary minus, bool trees over
  * comparisons / `in [...]` lists / string equality — rendered to pandas
  * text, translated by [[PandasExpr.toSparkSql]], evaluated by Spark over
  * a fixed 16-row fixture, and compared against a hand-rolled evaluator
  * that implements PYTHON semantics directly over the AST:
  * left-to-right same-precedence association, divisor-sign modulo
  * (CPython float_rem), float floor division, unary minus binding
  * between `**` and `*`, `not` looser than comparisons.
  *
  * Both dialect modes run on every seed family: ANSI (zero divisors
  * excluded by construction — deviation 16 makes them errors) and
  * `ieeeDivision = true` (zero divisors allowed; `/`, `//`, `%` take the
  * numpy branches). Seeds whose reference evaluation touches NaN at any
  * node are skipped: Spark orders NaN greatest and NaN = NaN true, numpy
  * compares NaN false — an engine-wide Spark comparison semantic, not a
  * translator property (the translator's NaN PRODUCTION is still
  * exercised: the skip is decided by the reference side alone, so an
  * engine that produced NaN where the reference did not would fail the
  * non-tainted compare).
  *
  * Spark and the reference both run on the JVM, so every IEEE op is
  * bit-identical given the same association — the numeric leg compares
  * doubles EXACTLY (no tolerance), which is what makes misassociation
  * (a*(b/c) vs (a*b)/c — different rounding) visible at all.
  */
class PandasExprFuzzSpec extends SparkSuite {

  // ---------------------------------------------------------------- AST
  private sealed trait Atom
  private case class ACol(n: String) extends Atom
  private case class ALit(text: String, v: Double) extends Atom
  private case class APow(base: Atom, exp: Int) extends Atom
  private case class Factor(neg: Boolean, a: Atom)
  private case class Term(head: Factor, tail: List[(String, Factor)])
  private case class Arith(head: Term, tail: List[(String, Term)])
  private sealed trait B
  private case class BCmp(op: String, l: Arith, r: Arith) extends B
  private case class BStr(eq: Boolean, lit: String) extends B
  private case class BIn(col: String, items: List[String], not: Boolean) extends B
  private case object BFlag extends B
  private case class BNot(e: B) extends B
  private case class BBin(op: String, l: B, r: B) extends B

  // ------------------------------------------------------------ fixture
  // All numeric columns DOUBLE; a/b/c/k are NONZERO everywhere (legal
  // ANSI divisors), z carries ±0.0 (ieee-only divisor). "Nice" halves
  // keep small-int powers exact in any correct pow.
  private case class Fx(a: Double, b: Double, c: Double, k: Double,
                        z: Double, s: String, flag: Boolean)
  private val rows: Seq[Fx] = Seq(
    Fx(1.5, 2.0, -3.5, 1.0, 0.0, "x", true),
    Fx(-7.5, 3.0, 0.5, 2.0, -0.0, "y", false),
    Fx(4.0, -2.0, 6.5, -3.0, 1.5, "zz", true),
    Fx(-0.5, 1.0, -1.5, 7.0, -2.5, "x", false),
    Fx(12.0, -6.5, 2.5, -1.0, 0.0, "a b", true),
    Fx(2.5, 4.5, -8.0, 5.0, 3.0, "y", true),
    Fx(-3.0, -1.5, 1.0, -2.0, -0.0, "zz", false),
    Fx(9.5, 2.0, -4.5, 3.0, -1.0, "x", false),
    Fx(-11.0, 0.5, 7.5, 1.0, 0.5, "q", true),
    Fx(6.0, -3.5, -2.0, -7.0, 0.0, "a b", false),
    Fx(0.5, 8.0, 3.5, 2.0, 2.0, "y", true),
    Fx(-1.5, -4.0, -6.0, -5.0, -0.0, "x", true),
    Fx(7.0, 1.5, 9.0, 4.0, -3.5, "zz", false),
    Fx(-9.0, 5.5, -0.5, -1.0, 0.0, "q", true),
    Fx(3.5, -7.0, 4.0, 6.0, 1.0, "y", false),
    Fx(-2.5, 6.0, -7.5, -4.0, -0.0, "x", true))

  private val numCols = Vector("a", "b", "c", "k")
  private val litPool = Vector("0.5" -> 0.5, "1.5" -> 1.5, "2.0" -> 2.0,
    "2.5" -> 2.5, "3.0" -> 3.0, "4.5" -> 4.5, "7.0" -> 7.0)
  private val strPool = Vector("x", "y", "zz", "a b", "q")

  // ---------------------------------------------------------- generator
  // Zero-bearing atoms (col z, literal 0.0) are drawn ONLY under ieee:
  // under ANSI a zero DIVISOR is a deviation-16 error by contract, and
  // excluding zeros everywhere keeps the ANSI grammar trivially safe.
  // Under ieee they appear in every position — as divisors they exercise
  // the ±Inf / NaN branches of the translator's IEEE CASEs.
  private def genAtom(r: Random, ieee: Boolean, allowPow: Boolean): Atom = {
    val roll = r.nextInt(10)
    if (allowPow && roll < 2)
      APow(ACol(numCols(r.nextInt(numCols.length))), r.nextInt(5) - 1) // -1..3
    else if (roll < 6) {
      if (ieee && r.nextInt(4) == 0) ACol("z")
      else ACol(numCols(r.nextInt(numCols.length)))
    } else {
      if (ieee && r.nextInt(6) == 0) ALit("0.0", 0.0)
      else { val (t, v) = litPool(r.nextInt(litPool.length)); ALit(t, v) }
    }
  }

  private def genTerm(r: Random, ieee: Boolean): Term = {
    // `**` only at the term head: a pow to the RIGHT of a rewritten
    // * / // % is outside the accepted dialect (the tokenizer-level
    // rewrite consumes the simple right operand before seeing `**`
    // and then rejects loudly).
    val head = Factor(r.nextInt(5) == 0,
      genAtom(r, ieee, allowPow = true))
    val n = r.nextInt(3) // 0..2 chained ops
    val ops = Vector("*", "/", "//", "%")
    val tail = List.fill(n) {
      val op = ops(r.nextInt(ops.length))
      (op, Factor(r.nextInt(6) == 0,
        genAtom(r, ieee, allowPow = false)))
    }
    // guarantee at least one column in the term so the whole chain is
    // double-typed (a pure-literal chain is DECIMAL in Spark SQL text —
    // same values, different rounding rules under division)
    val hasCol = (head.a +: tail.map(_._2.a)).exists {
      case ACol(_) | APow(_, _) => true
      case _ => false
    }
    if (hasCol) Term(head, tail)
    else Term(Factor(head.neg, ACol(numCols(r.nextInt(numCols.length)))), tail)
  }

  private def genArith(r: Random, ieee: Boolean): Arith = {
    val n = r.nextInt(2) // 0..1 additive ops
    Arith(genTerm(r, ieee),
      List.fill(n)((if (r.nextBoolean()) "+" else "-", genTerm(r, ieee))))
  }

  private def genCmp(r: Random, ieee: Boolean): B = r.nextInt(10) match {
    case 0 => BStr(r.nextBoolean(), strPool(r.nextInt(strPool.length)))
    case 1 =>
      val items = List.fill(1 + r.nextInt(3))(
        (r.nextInt(15) - 7).toString)
      BIn("k", items, r.nextBoolean())
    case 2 => BFlag
    case _ =>
      val ops = Vector(">", "<", ">=", "<=", "==", "!=")
      BCmp(ops(r.nextInt(ops.length)), genArith(r, ieee), genArith(r, ieee))
  }

  private def genBool(r: Random, ieee: Boolean, depth: Int): B = {
    if (depth == 0 || r.nextInt(3) == 0) genCmp(r, ieee)
    else r.nextInt(4) match {
      case 0 => BNot(genBool(r, ieee, depth - 1))
      case 1 => BBin("and", genBool(r, ieee, depth - 1), genBool(r, ieee, depth - 1))
      case 2 => BBin("or", genBool(r, ieee, depth - 1), genBool(r, ieee, depth - 1))
      case _ => genCmp(r, ieee)
    }
  }

  // ------------------------------------------------------------- render
  private def rAtom(a: Atom): String = a match {
    case ACol(n) => n
    case ALit(t, _) => t
    case APow(b, e) => s"${rAtom(b)} ** $e"
  }
  private def rFactor(f: Factor): String =
    (if (f.neg) "-" else "") + rAtom(f.a)
  private def rTerm(t: Term): String =
    (rFactor(t.head) +: t.tail.map { case (op, f) => s"$op ${rFactor(f)}" }).mkString(" ")
  private def rArith(a: Arith): String =
    (rTerm(a.head) +: a.tail.map { case (op, t) => s"$op ${rTerm(t)}" }).mkString(" ")
  private def rBool(b: B): String = b match {
    case BCmp(op, l, r) => s"${rArith(l)} $op ${rArith(r)}"
    case BStr(eq, lit) => s"s ${if (eq) "==" else "!="} '$lit'"
    case BIn(c, items, not) =>
      s"$c ${if (not) "not in" else "in"} [${items.mkString(", ")}]"
    case BFlag => "flag"
    case BNot(e) => s"not (${rBool(e)})"
    case BBin(op, l, r) => s"(${rBool(l)}) $op (${rBool(r)})"
  }

  // ---------------------------------------------- reference (python) eval
  // Evaluates the AST with python/numpy semantics; `taint` records NaN at
  // ANY node (NaN comparison semantics differ between Spark and numpy, so
  // tainted seeds are skipped rather than asserted).
  private class Ref(fx: Fx, ieee: Boolean) {
    var taint = false
    private def note(v: Double): Double = { if (v.isNaN) taint = true; v }
    private def col(n: String): Double = n match {
      case "a" => fx.a; case "b" => fx.b; case "c" => fx.c
      case "k" => fx.k; case "z" => fx.z
      case other => throw new IllegalStateException(other)
    }
    def atom(a: Atom): Double = a match {
      case ACol(n) => col(n)
      case ALit(_, v) => v
      case APow(b, e) => note(math.pow(atom(b), e.toDouble))
    }
    def factor(f: Factor): Double = {
      val v = atom(f.a); if (f.neg) -v else v
    }
    // python floor division contract (and the engine's floorDouble pin):
    // NaN and already-integral magnitudes >= 2^53 pass through
    private def floorDiv(a: Double, b: Double): Double = {
      val q = a / b
      if (q.isNaN || math.abs(q) >= 9.007199254740992e15) q else math.floor(q)
    }
    // CPython float_rem: fmod, then re-sign by the DIVISOR
    private def pymod(a: Double, b: Double): Double = {
      if (ieee && b == 0.0) Double.NaN
      else {
        val r = a % b
        if (r != 0 && ((r < 0) != (b < 0))) r + b else r
      }
    }
    def term(t: Term): Double =
      t.tail.foldLeft(factor(t.head)) { case (acc, (op, f)) =>
        val rhs = factor(f)
        note(op match {
          case "*" => acc * rhs
          case "/" => acc / rhs // divisor nonzero under ANSI by construction
          case "//" => floorDiv(acc, rhs)
          case "%" => pymod(acc, rhs)
        })
      }
    def arith(a: Arith): Double =
      a.tail.foldLeft(term(a.head)) { case (acc, (op, t)) =>
        note(if (op == "+") acc + term(t) else acc - term(t))
      }
    def bool(b: B): Boolean = b match {
      case BCmp(op, l, r) =>
        val (x, y) = (arith(l), arith(r))
        op match {
          case ">" => x > y; case "<" => x < y
          case ">=" => x >= y; case "<=" => x <= y
          case "==" => x == y; case "!=" => x != y
        }
      case BStr(eq, lit) => if (eq) fx.s == lit else fx.s != lit
      case BIn(c, items, not) =>
        val in = items.exists(_.toDouble == col(c))
        if (not) !in else in
      case BFlag => fx.flag
      case BNot(e) => !bool(e)
      case BBin("and", l, r) => bool(l) && bool(r)
      case BBin(_, l, r) => bool(l) || bool(r)
    }
  }

  // ------------------------------------------------------------ the test
  private def runMode(ieee: Boolean, seeds: Range): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("z", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("flag", org.apache.spark.sql.types.BooleanType)))
    val df = spark.createDataFrame(
      rows.map(f => org.apache.spark.sql.Row(f.a, f.b, f.c, f.k, f.z, f.s, f.flag)).asJava,
      schema).coalesce(1).cache()
    df.count()

    var skipped = 0
    var checked = 0
    // 20 seeds = 40 generated columns per select: keeps each generated
    // whole-stage-codegen method under janino's 64 KB limit (the ieee
    // CASEs are large), so the test exercises the compiled path
    seeds.grouped(20).foreach { batch =>
      case class Case(seed: Int, text: String, sql: String, ast: B,
                      numText: String, numSql: String, numAst: Arith)
      val cases = batch.map { seed =>
        val r = new Random(seed)
        val ast = genBool(r, ieee, depth = 2)
        val num = genArith(r, ieee)
        val text = rBool(ast)
        val numText = rArith(num)
        // every generated expression is inside the accepted dialect by
        // construction — a rejection here is a generator/translator
        // disagreement and fails loudly
        val sql =
          try PandasExpr.toSparkSql(text, ieeeDivision = ieee)
          catch { case e: IllegalArgumentException =>
            fail(s"seed $seed: translator rejected generated expr '$text': ${e.getMessage}")
          }
        val numSql =
          try PandasExpr.toSparkSql(numText, ieeeDivision = ieee)
          catch { case e: IllegalArgumentException =>
            fail(s"seed $seed: translator rejected generated expr '$numText': ${e.getMessage}")
          }
        Case(seed, text, sql, ast, numText, numSql, num)
      }
      val cols = cases.flatMap(c => Seq(
        expr(c.sql).cast("boolean").as(s"b${c.seed}"),
        expr(c.numSql).cast("double").as(s"n${c.seed}")))
      val got = df.select(cols.toIndexedSeq: _*).collect()
      cases.zipWithIndex.foreach { case (c, ci) =>
        rows.zipWithIndex.foreach { case (fx, ri) =>
          val ref = new Ref(fx, ieee)
          val wantB = ref.bool(c.ast)
          val wantN = ref.arith(c.numAst)
          if (ref.taint) skipped += 1
          else {
            checked += 1
            val gotB = got(ri).getBoolean(2 * ci)
            assert(gotB == wantB,
              s"seed ${c.seed} row $ri (ieee=$ieee): '${c.text}' -> ${c.sql}\n" +
                s"spark=$gotB python=$wantB fixture=$fx")
            val gotN = got(ri).getDouble(2 * ci + 1)
            val same = java.lang.Double.doubleToLongBits(gotN) ==
              java.lang.Double.doubleToLongBits(wantN) ||
              (gotN == wantN) // +0.0 vs -0.0: sign of an exact zero is not pinned
            assert(same,
              s"seed ${c.seed} row $ri (ieee=$ieee): '${c.numText}' -> ${c.numSql}\n" +
                s"spark=$gotN python=$wantN fixture=$fx")
          }
        }
      }
    }
    df.unpersist()
    info(s"ieee=$ieee: $checked row-cases compared, $skipped NaN-tainted skipped")
    assert(checked > 0)
    assert(skipped.toDouble / (checked + skipped) < 0.4,
      s"NaN taint rate too high to be meaningful: $skipped/${checked + skipped}")
  }

  // Seed count per mode. The full 400-per-mode sweep (800 total) takes
  // several minutes of real Spark jobs and pushed the whole suite past the
  // external test-run time budget (r15: the driver's `sbt test` was cut off
  // mid-suite with zero failures). Default to a fast-but-meaningful slice
  // and make the full sweep opt-in: SPARK_GRAFT_FUZZ_SEEDS=400 sbt test.
  private val fuzzSeeds: Int = SparkSuite.positiveIntEnv("SPARK_GRAFT_FUZZ_SEEDS", 100)

  test("pandas dialect differential fuzz: ANSI mode") {
    runMode(ieee = false, 1 to fuzzSeeds)
  }

  test("pandas dialect differential fuzz: ieeeDivision mode") {
    runMode(ieee = true, 10001 to (10000 + fuzzSeeds))
  }
}
