package graft

import java.lang.reflect.Modifier
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Text}
import graft.ops.{Corpus, Dedup, Pca}

/** Lint: no lambda in a Column builder may capture an O(row) expression.
  *
  * Higher-order functions get no subexpression elimination, so a lambda
  * body that contains an expression over the row's own columns — one that
  * does not depend on any lambda variable — re-evaluates it at every
  * lambda call. When that expression splits, lowercases, trims or
  * regex-rewrites text, or is itself a higher-order function over an
  * array, the row costs O(n²). Such values belong in [[graft.functions.let]].
  *
  * Each builder is analyzed over a one-row frame. A capture is a subtree
  * of a lambda body that references an outer attribute, has no FREE
  * lambda variable (lambdas nested inside the subtree may bind their
  * own), and contains a higher-order function, StringSplit,
  * RegExpReplace, Lower or StringTrim. */
class LambdaCaptureSpec extends SparkSuite {

  private lazy val frame = {
    import spark.implicits._
    Seq(("a b c", Seq(1f, 0f), Seq("a b", "b c"), 1L, 2L)).toDF("text", "vec", "arr", "h1", "h2")
  }

  private val (text, vec, arr) = (col("text"), col("vec"), col("arr"))

  private def textBuilders: Map[String, Column] = {
    val (email, ip, phone) = Text.piiCounts(text)
    Map(
      "casefold" -> Text.casefold(text),
      "normalize" -> Text.normalize(text, "NFC"),
      "wrap" -> Text.wrap(text, 4),
      "strIndex" -> Text.strIndex(text, "a"),
      "strRindex" -> Text.strRindex(text, "a"),
      "tokenCountWs" -> Text.tokenCountWs(text),
      "tokenCountWords" -> Text.tokenCountWords(text),
      "tokenCountBpe" -> Text.tokenCountBpe(text),
      "wordTokens" -> Text.wordTokens(text),
      "scrubPii" -> Text.scrubPii(text),
      "piiCounts" -> array(email, ip, phone),
      "avgTokenLen" -> Text.avgTokenLen(text),
      "punctRatio" -> Text.punctRatio(text),
      "stopwordHits" -> Text.stopwordHits(text, Seq("a")),
      "languageId" -> Text.languageId(text),
      "qualityScore" -> Text.qualityScore(text),
      "fingerprint" -> Text.fingerprint(text),
      "shingles" -> Text.shingles(text, 2),
      "minhashSignature" -> Text.minhashSignature(arr, 4),
      "simhash" -> Text.simhash(arr),
      "hammingDistance" -> Text.hammingDistance(col("h1"), col("h2")),
      "simhashBitsMd5" -> Text.simhashBitsMd5(arr),
      "kgramHashes" -> Text.kgramHashes(text, 3),
      // over an unmaterialized hash array, as q149 calls it
      "winnowFromHashes" -> Text.winnowFromHashes(Text.kgramHashes(text, 3), 4))
  }

  private def similarityBuilders: Map[String, Column] = Map(
    "dot" -> Similarity.dot(vec, vec),
    "norm" -> Similarity.norm(vec),
    "cosine" -> Similarity.cosine(vec, vec),
    "nativeCosine" -> Similarity.nativeCosine(frame)(vec, vec),
    "lshBucket" -> Similarity.lshBucket(vec, 4),
    "lshBucketMd5" -> Similarity.lshBucketMd5(vec, 4))

  private def corpusBuilders: Map[String, Column] = Map(
    "wsTokens" -> Corpus.wsTokens(text),
    "wsTokensLower" -> Corpus.wsTokensLower(text),
    "segments" -> Corpus.segments(text, 2),
    "wordNgrams" -> Corpus.wordNgrams(text, 2))

  private def otherBuilders: Map[String, Column] = {
    val model = Pca.Model(Array(0.5, 0.5), Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(2.0, 1.0), 1L)
    Map(
      "Pca.projectExpr" -> Pca.projectExpr(vec, model, whiten = true),
      "Dedup.foldedShingleSet" -> Dedup.foldedShingleSet(Dedup.distinctDigests(text, 2)))
  }

  private def isHeavy(e: Expression): Boolean = e match {
    case _: HigherOrderFunction | _: StringSplit | _: RegExpReplace | _: Lower | _: StringTrim => true
    case _ => false
  }

  private def freeLambdaVars(e: Expression): Set[ExprId] = {
    val used = e.collect { case v: NamedLambdaVariable => v.exprId }.toSet
    val bound = e.collect { case f: LambdaFunction =>
      f.arguments.collect { case v: NamedLambdaVariable => v.exprId }
    }.flatten.toSet
    used -- bound
  }

  private def isCapture(e: Expression): Boolean =
    e.exists(_.isInstanceOf[AttributeReference]) && freeLambdaVars(e).isEmpty && e.exists(isHeavy)

  /** Outermost captures of one lambda body. */
  private def captures(body: Expression): Seq[Expression] =
    if (isCapture(body)) Seq(body) else body.children.flatMap(captures)

  /** (lambda count, captures as SQL) of the analyzed builder. */
  private def lint(c: Column): (Int, Seq[String]) = {
    val exprs = frame.select(c).queryExecution.analyzed.expressions
    val lambdas = exprs.flatMap(_.collect { case f: LambdaFunction => f })
    (lambdas.size, lambdas.flatMap(f => captures(f.function)).map(_.sql).distinct)
  }

  /** Public Column-returning methods of a builder object (private[graft]
    * ones included: they compile to public methods). */
  private def columnMethods(obj: AnyRef): Set[String] =
    obj.getClass.getDeclaredMethods.iterator
      .filter(m => Modifier.isPublic(m.getModifiers) && m.getReturnType == classOf[Column])
      .map(_.getName).filterNot(_.contains("$")).toSet

  test("every Column builder of Text, Corpus and Similarity is linted") {
    for ((obj, table) <- Seq(Text -> textBuilders, Corpus -> corpusBuilders,
        Similarity -> similarityBuilders)) {
      val missing = columnMethods(obj) -- table.keySet
      assert(missing.isEmpty, s"add ${missing.mkString(", ")} to LambdaCaptureSpec")
    }
  }

  test("no builder lambda captures an outer split, trim, lower, regex or higher-order function") {
    val all = textBuilders ++ similarityBuilders ++ corpusBuilders ++ otherBuilders
    val results = all.map { case (name, c) => name -> lint(c) }
    val bad = results.collect { case (name, (_, cs)) if cs.nonEmpty =>
      s"$name: ${cs.mkString("; ")}"
    }
    assert(bad.isEmpty, bad.mkString("lambda captures (bind them with let):\n", "\n", ""))
    // the lint has something to look at: these all run lambdas
    Seq("shingles", "kgramHashes", "winnowFromHashes", "segments", "wordNgrams",
      "Pca.projectExpr", "Dedup.foldedShingleSet").foreach { name =>
      assert(results(name)._1 > 0, s"$name: no lambda found")
    }
  }

  test("the lint flags the captured-value formulations let replaced") {
    import LetParitySpec._
    Seq(
      "shinglesRef" -> shinglesRef(text, 2),
      "kgramHashesRef" -> kgramHashesRef(text, 3),
      "segmentsRef" -> segmentsRef(text, 2),
      "wordNgramsRef" -> wordNgramsRef(text, 2)).foreach { case (name, c) =>
      assert(lint(c)._2.nonEmpty, s"$name: capture not detected")
    }
  }
}
