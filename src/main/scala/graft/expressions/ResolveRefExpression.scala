package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC 3986 §5.2 reference resolution as ONE whole-stage-codegen
  * scalar — the compiled form of ResolveRefSpec's Column-algebra
  * `resolveRefColumns`.
  *
  * Why an expression: the Column formulation is the crawl tier's
  * hottest per-link projection (every extracted href of every fetched
  * page — q_outlinks, q_anchor_text/corpus, every Crawl.bfs hop, the
  * WAT host extraction), and its three `removeDotSegments` call sites
  * are `aggregate` higher-order functions over `split(path, "/")` —
  * Catalyst HOFs are CodegenFallback, so every exploded link row paid
  * interpreted lambda evaluation (per-segment closure calls + array
  * churn) inside an otherwise codegen'd stage, plus a ~40-node
  * when/concat/regexp tree. This expression is one static JVM call.
  *
  * Semantics are pinned EQUAL to the Column form, branch for branch —
  * ResolveRefSpec replays both over an adversarial (base, ref) matrix
  * (every branch, dot-segment shapes, newline/tab/space edges, non-URL
  * bases, null bases) and the q_outlinks / q_anchor_* / q_crawl_bfs
  * oracles adjudicate end-to-end. Each regex below is the VERBATIM
  * pattern of the Column form (same Java regex engine, same find()
  * anchoring, so `$`-before-final-newline and '.'-excludes-'\n'
  * behaviors carry over exactly); `trim` is Spark's space-only trim.
  *
  * Null contract (traced from the Column algebra): null ref → null;
  * null base → null EXCEPT the absolute-http(s) branch, which never
  * reads the base (and the unfetchable branches, which are null
  * anyway). Hence custom eval/doGenCode instead of nullSafeEval. */
case class ResolveRef(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (string, string), got ($l, $r)")
    }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "resolve_ref"

  override def eval(input: InternalRow): Any =
    ResolveRef.compute(
      left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${b.code}
        ${r.code}
        org.apache.spark.unsafe.types.UTF8String ${ev.value} =
          graft.expressions.ResolveRef.compute(
            ${b.isNull} ? null : ${b.value},
            ${r.isNull} ? null : ${r.value});
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResolveRef =
    copy(left = newLeft, right = newRight)
}

object ResolveRef {

  // verbatim ports of the UrlOps Column-form patterns (same engine,
  // same find() semantics — keep them byte-identical)
  private val SchemeHostP =
    Pattern.compile("^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)")
  private val SchemeHostPathP =
    Pattern.compile("^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)")
  private val SchemeOnlyP = Pattern.compile("^([a-zA-Z][a-zA-Z0-9+.-]*)")
  private val HttpAbsP = Pattern.compile("^(?i)https?://")
  private val SchemeLikeP = Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.-]*:")
  private val FragP = Pattern.compile("#.*$")
  private val QueryP = Pattern.compile("(\\?.*)$")
  private val RPathP = Pattern.compile("^([^?]*)")
  private val BaseDirP = Pattern.compile("^(.*/)")
  private val DirRefTailP = Pattern.compile("/(\\.|\\.\\.)?$")

  /** regexp_extract semantics: first find(), group value, "" on no
    * match or non-participating group. */
  private def extract(p: Pattern, s: String, g: Int): String = {
    val m = p.matcher(s)
    if (m.find()) { val v = m.group(g); if (v == null) "" else v } else ""
  }

  private def scheme(u: String): String = extract(SchemeHostP, u, 1)
  private def host(u: String): String = extract(SchemeHostP, u, 2)
  private def path(u: String): String = extract(SchemeHostPathP, u, 3)

  /** Spark `trim`: spaces only (NOT Java's String.trim control chars). */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** RFC 3986 §5.2.4 over an absolute path — the Column form's
    * aggregate-over-split fold, iteratively: skip ""/"." segments, pop
    * on ".." (never above root), restore the directory-reference
    * trailing slash. */
  private def removeDotSegments(p: String): String = {
    val parts = p.split("/", -1) // Spark split keeps trailing empties
    val acc = new java.util.ArrayList[String]()
    var i = 0
    while (i < parts.length) {
      val s = parts(i)
      if (s == "" || s == ".") () // skip (collapses `//` runs too)
      else if (s == "..") { if (!acc.isEmpty) acc.remove(acc.size - 1) }
      else acc.add(s)
      i += 1
    }
    val joined = new java.lang.StringBuilder
    var k = 0
    while (k < acc.size) { joined.append('/').append(acc.get(k)); k += 1 }
    val base = if (joined.length == 0) "/" else joined.toString
    if (DirRefTailP.matcher(p).find() && !base.endsWith("/")) base + "/"
    else base
  }

  /** §5.2.2 normalization of an already-absolute URL: scheme/host
    * casing untouched, empty paths pass through. */
  private def normAbs(u: String): String = {
    val p = path(u)
    if (p.isEmpty) u
    else extract(SchemeOnlyP, u, 1) + "://" + host(u) +
      removeDotSegments(p) + extract(QueryP, u, 1)
  }

  /** Called from interpreted eval and generated code. Either input may
    * be null — see the class doc's null contract. */
  def compute(base: UTF8String, ref: UTF8String): UTF8String = {
    if (ref == null) return null
    val r = FragP.matcher(ref.toString).replaceAll("")
    if (trimSpaces(r).isEmpty) return null
    if (HttpAbsP.matcher(r).find())
      return UTF8String.fromString(normAbs(r))
    if (SchemeLikeP.matcher(r).find()) return null
    // every remaining branch concat()s base-derived columns → null base
    // propagates to null exactly like the Column form
    if (base == null) return null
    val b = base.toString
    val sch = scheme(b).toLowerCase(java.util.Locale.ROOT)
    if (r.startsWith("//"))
      return UTF8String.fromString(normAbs(sch + ":" + r))
    val hostPart = host(b)
    val rPath = extract(RPathP, r, 1)
    val rQuery = extract(QueryP, r, 1)
    if (r.startsWith("/"))
      return UTF8String.fromString(
        sch + "://" + hostPart + removeDotSegments(rPath) + rQuery)
    val bPath = path(b)
    if (rPath.isEmpty) // query-only ref: keep the base path
      return UTF8String.fromString(sch + "://" + hostPart +
        (if (bPath.isEmpty) "/" else bPath) + rQuery)
    val baseDir = extract(BaseDirP, bPath, 1)
    val merged = if (baseDir.isEmpty) "/" + rPath else baseDir + rPath
    UTF8String.fromString(
      sch + "://" + hostPart + removeDotSegments(merged) + rQuery)
  }
}
