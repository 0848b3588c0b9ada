package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native (codegen, single-static-call) forms of the URL algebra in
  * [[graft.text.UrlCanonical]] — same pattern as [[IdnAscii]].
  *
  * WHY (guide §4, measured r20): the original implementations (kept as
  * the reference twins) compose builtin Columns under
  * [[graft.text.UrlCanonical.let]]-bindings, and `let` is
  * `element_at(transform(array(v), body), 1)` — a higher-order
  * function; queries bind with named columns instead, never `let`.
  * HOFs have NO codegen: the entire expression subtree under them is
  * evaluated by the INTERPRETED evaluator, one tree walk with per-node
  * boxing per row. Canonicalization is the
  * single hottest per-row computation in the engine (every link edge,
  * membership key, host grouping and consolidation key pays it — the
  * 32-task zone stages measured 1–2 s/task at sf0.1, ~5–9 ms/doc), so
  * the interpreted tree dominated CPU at every scale. Each function
  * below is ONE static JVM call per row, inlined into whole-stage
  * codegen exactly like `idn_ascii`.
  *
  * FIDELITY: these are transliterations of the Column algebra, operator
  * by operator (substring_index ↔ [[UrlCanon.before]]/afterLast,
  * split-keep-trailing-empties, regexp_replace's append-replacement
  * loop, array_sort's UTF8String BINARY ordering — NOT
  * String.compareTo, which disagrees above the BMP). The original
  * Column forms stay in [[graft.text.UrlCanonical]] as `column*` twins,
  * and UrlCanonNativeSpec asserts byte-identical output over the
  * fixture's URL classes plus an adversarial fuzz set; the DuckDB
  * oracle CTEs are untouched, so the 183-query gate checks the same
  * algebra end-to-end. Null semantics mirror the Column forms'
  * concat/when propagation (documented per function).
  */
object UrlCanon {

  /** substring_index(s, d, 1): prefix before the FIRST occurrence of
    * `d`; the whole string when absent. */
  private def before(s: String, d: String): String = {
    val i = s.indexOf(d)
    if (i < 0) s else s.substring(0, i)
  }

  /** substring_index(s, d, -1): suffix after the LAST occurrence. Only
    * called when `d` is known present (the Column forms guard with
    * contains()). */
  private def afterLast(s: String, d: String): String =
    s.substring(s.lastIndexOf(d) + d.length)

  /** The part after the first "://", or "" when absent — the
    * `substrFrom(s, length(before) + 4)` idiom (Spark substr past the
    * end yields ""). */
  private def afterScheme(s: String): String = {
    val i = s.indexOf("://")
    if (i < 0) "" else s.substring(i + 3)
  }

  private val SchemePat =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.\\-]*://")
  private val HexPat =
    java.util.regex.Pattern.compile("^[0-9a-fA-F]{2}$")

  private def isUnreserved(v: Int): Boolean =
    (v >= 48 && v <= 57) || (v >= 65 && v <= 90) || (v >= 97 && v <= 122) ||
      v == 45 || v == 46 || v == 95 || v == 126

  /** RFC 3986 §6.2.2.2 percent normalization — the transliteration of
    * UrlCanonical.percentNormalize's sentinel-split algebra. */
  def percentNormalize(url: String): String = {
    // the Column fast path returns the ORIGINAL whenever '%' is absent
    // (even if a raw  sentinel byte occurs) — mirror it exactly
    if (url.indexOf('%') < 0) return url
    // split(regexp_replace(url, "%", "%"), "") — every
    // piece after the head starts with '%' iff it is an escape
    // candidate; the split also consumes pre-existing  bytes
    // exactly like the Column form (the documented junk-in posture)
    val marked = url.replace("%", "%")
    val pieces = marked.split("", -1)
    val sb = new java.lang.StringBuilder(url.length)
    var i = 0
    while (i < pieces.length) {
      val p = pieces(i)
      // substring(p, 2, 2): 1-based, clipped at the string end
      val hex =
        if (p.length >= 3) p.substring(1, 3)
        else if (p.length == 2) p.substring(1)
        else ""
      val isEsc = p.startsWith("%") && HexPat.matcher(hex).matches()
      if (!isEsc) sb.append(p)
      else {
        val v = Integer.parseInt(hex, 16)
        val tail = if (p.length >= 4) p.substring(3) else ""
        if (isUnreserved(v)) { sb.append(v.toChar); sb.append(tail) }
        else {
          sb.append('%')
          sb.append(hex.toUpperCase(java.util.Locale.ROOT))
          sb.append(tail)
        }
      }
      i += 1
    }
    sb.toString
  }

  /** UTF-8 binary ordering — array_sort's UTF8String comparison, which
    * orders by code point (String.compareTo orders by UTF-16 unit and
    * disagrees above the BMP). */
  private val utf8Order: java.util.Comparator[String] =
    (a: String, b: String) => {
      val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ba.length, bb.length)
      var i = 0
      var r = 0
      while (r == 0 && i < n) {
        r = (ba(i) & 0xff) - (bb(i) & 0xff)
        i += 1
      }
      if (r != 0) r else ba.length - bb.length
    }

  /** UrlCanonical.canonicalize, transliterated. Null → null (the
    * Column form's final concat propagates a null input through every
    * branch). */
  def canonicalize(url: String): String = {
    val noFrag = before(percentNormalize(url), "#")
    val schemeRaw = before(noFrag, "://")
    val scheme = schemeRaw.toLowerCase(java.util.Locale.ROOT)
    val rest = afterScheme(noFrag)
    val hostport = before(before(rest, "/"), "?")
    val pathq = rest.substring(hostport.length)
    val path0 = before(pathq, "?")
    val hostLower = before(hostport, ":").toLowerCase(java.util.Locale.ROOT)
    val host = idnHost(hostLower)
    val port = if (hostport.contains(":")) afterLast(hostport, ":") else ""
    val keepPort =
      if (port.nonEmpty && !(scheme == "http" && port == "80") &&
          !(scheme == "https" && port == "443")) ":" + port
      else ""
    val path1 =
      if (path0.length > 1 && path0.endsWith("/"))
        path0.substring(0, path0.length - 1)
      else path0
    val path = if (path1.isEmpty) "/" else path1
    val q0 = if (pathq.contains("?")) pathq.substring(path0.length + 1) else ""
    val params = q0.split("&", -1).filter(p =>
      p.nonEmpty && !p.startsWith("utm_") && !p.startsWith("fbclid=") &&
        !p.startsWith("gclid="))
    java.util.Arrays.sort(params, utf8Order)
    val sortedQ = params.mkString("&")
    val sb = new java.lang.StringBuilder(url.length + 8)
    sb.append(scheme).append("://").append(host).append(keepPort).append(path)
    if (sortedQ.nonEmpty) sb.append('?').append(sortedQ)
    sb.toString
  }

  /** The host-normalization branch: ASCII hosts pass through, others go
    * through the same IDN step (and failure posture) as idn_ascii. */
  private def idnHost(hostLower: String): String = {
    var ascii = true
    var i = 0
    while (ascii && i < hostLower.length) {
      if (hostLower.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (ascii) hostLower
    else IdnAscii.toAscii(UTF8String.fromString(hostLower)).toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments — UrlCanonical's fold,
    * including its drop-the-first-split-segment and trailing-slash
    * restoration details. */
  def removeDotSegments(p: String): String = {
    val segs = p.split("/", -1)
    val sb = new java.lang.StringBuilder(p.length)
    var i = 1 // slice(segs, 2, size-1): all but the first split segment
    while (i < segs.length) {
      val s = segs(i)
      if (s == ".") () // no-op
      else if (s == "..") {
        // regexp_replace(acc, "/[^/]*$", ""): drop the last component
        // (the pattern needs a '/', so an acc without one is untouched)
        val j = sb.lastIndexOf("/")
        if (j >= 0) sb.setLength(j)
      } else {
        sb.append('/'); sb.append(s)
      }
      i += 1
    }
    val folded = sb.toString
    val out = if (folded.isEmpty) "/" else folded
    if (p.isEmpty) ""
    else if ((p.endsWith("/.") || p.endsWith("/..")) && !out.endsWith("/"))
      out + "/"
    else out
  }

  /** UrlCanonical.resolve (RFC 3986 §5.2), transliterated. Null
    * semantics mirror the Column form's concat propagation: a null ref
    * is always null; a null base is null UNLESS the ref carries its own
    * scheme (every base-derived fragment is then unused). */
  def resolve(base: String, ref: String): String = {
    if (ref == null) return null
    val r = before(ref, "#")
    val hasScheme = SchemePat.matcher(r).find()
    if (base == null && !hasScheme) return null
    val (scheme, after0) =
      if (hasScheme) (before(r, "://"), afterScheme(r))
      else {
        val baseNf = before(base, "#")
        val bSchemeRaw = before(baseNf, "://")
        val bAfter = afterScheme(baseNf)
        val bAuth = before(before(bAfter, "/"), "?")
        val bPathQ = bAfter.substring(bAuth.length)
        val bPath = before(bPathQ, "?")
        if (r.startsWith("//")) (bSchemeRaw, r.substring(2))
        else {
          // §5.2.3 merge: regexp_replace(bPath, "[^/]*$", "") = the base
          // path through its last '/'; '/' when the base path is empty
          val mergeDir =
            if (bPath.contains("/"))
              bPath.substring(0, bPath.lastIndexOf('/') + 1)
            else "/"
          val relPathQ =
            if (r.isEmpty) bPathQ
            else if (r.startsWith("?")) bPath + r
            else if (r.startsWith("/")) r
            else mergeDir + r
          (bSchemeRaw, bAuth + relPathQ)
        }
      }
    val auth = before(before(after0, "/"), "?")
    val pathQ = after0.substring(auth.length)
    val p0 = before(pathQ, "?")
    val q = pathQ.substring(p0.length)
    val sb = new java.lang.StringBuilder(after0.length + scheme.length + 4)
    sb.append(scheme).append("://").append(auth)
      .append(removeDotSegments(p0)).append(q)
    sb.toString
  }

  /** UrlCanonical.hostOfCanon: authority host of an already-canonical
    * url (first-'://' split; authority ends at '/' or '?'). */
  def hostOfCanon(c: String): String =
    before(before(before(afterScheme(c), "/"), "?"), ":")

  /** UrlCanonical.pathOfCanon: query-stripped path. */
  def pathOfCanon(c: String): String = {
    val rest = afterScheme(c)
    val hostport = before(before(rest, "/"), "?")
    before(rest.substring(hostport.length), "?")
  }

  /** UrlCanonical.pathQueryOfCanon: path plus query. */
  def pathQueryOfCanon(c: String): String = {
    val rest = afterScheme(c)
    val hostport = before(before(rest, "/"), "?")
    rest.substring(hostport.length)
  }

  // UTF8String adapters — the single static call sites the generated
  // code references.
  def canon(u: UTF8String): UTF8String =
    if (u == null) null else UTF8String.fromString(canonicalize(u.toString))
  def resolveU(b: UTF8String, r: UTF8String): UTF8String = {
    val out = resolve(if (b == null) null else b.toString,
      if (r == null) null else r.toString)
    if (out == null) null else UTF8String.fromString(out)
  }
  def host(c: UTF8String): UTF8String =
    if (c == null) null else UTF8String.fromString(hostOfCanon(c.toString))
  def path(c: UTF8String): UTF8String =
    if (c == null) null else UTF8String.fromString(pathOfCanon(c.toString))
  def pathQuery(c: UTF8String): UTF8String =
    if (c == null) null else UTF8String.fromString(pathQueryOfCanon(c.toString))
  def rmdots(p: UTF8String): UTF8String =
    if (p == null) null else UTF8String.fromString(removeDotSegments(p.toString))
}

/** url_canon(url) — native [[graft.text.UrlCanonical.canonicalize]]. */
case class UrlCanonicalizeExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_canon"
  override def nullSafeEval(u: Any): Any =
    UrlCanon.canon(u.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlCanon.canon($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** url_resolve(base, ref) — native [[graft.text.UrlCanonical.resolve]].
  * NOT null-intolerant: an absolute ref resolves even under a null base
  * (the Column form's concat only sees base-derived fragments on the
  * relative branches). */
case class UrlResolveExpr(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_resolve"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    UrlCanon.resolveU(left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${b.code}
        ${r.code}
        org.apache.spark.unsafe.types.UTF8String ${ev.value} =
          graft.functions.UrlCanon.resolveU(
            ${b.isNull} ? null : ${b.value},
            ${r.isNull} ? null : ${r.value});
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** url_host(canon) — native [[graft.text.UrlCanonical.hostOfCanon]]. */
case class UrlHostOfCanonExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_host"
  override def nullSafeEval(c: Any): Any =
    UrlCanon.host(c.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlCanon.host($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** url_path(canon) — native [[graft.text.UrlCanonical.pathOfCanon]]. */
case class UrlPathOfCanonExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_path"
  override def nullSafeEval(c: Any): Any =
    UrlCanon.path(c.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlCanon.path($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** url_pathq(canon) — native
  * [[graft.text.UrlCanonical.pathQueryOfCanon]]. */
case class UrlPathQueryOfCanonExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_pathq"
  override def nullSafeEval(c: Any): Any =
    UrlCanon.pathQuery(c.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlCanon.pathQuery($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** url_rmdots(path) — native
  * [[graft.text.UrlCanonical.removeDotSegments]]. */
case class UrlRemoveDotSegmentsExpr(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_rmdots"
  override def nullSafeEval(p: Any): Any =
    UrlCanon.rmdots(p.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlCanon.rmdots($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
