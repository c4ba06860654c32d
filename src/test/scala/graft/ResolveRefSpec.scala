package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.UrlOps

/** Differential guard for the compiled RFC 3986 resolver: the
  * whole-stage-codegen [[graft.expressions.ResolveRef]] must agree
  * with the Column-algebra form (`resolveRefColumns` below, the
  * executable semantics reference) on EVERY (base, ref) shape —
  * including the deliberately nasty ones (newlines, tabs, spaces,
  * non-URL bases, empty/NULL inputs, percent-encoded dots,
  * slash runs, query/fragment edge orders). The two forms run over the
  * full cross product in one projection, so any divergence names its
  * exact input pair. */
class ResolveRefSpec extends SparkSpec {
  import spark.implicits._

  private val bases: Seq[String] = Seq(
    "https://h.com/a/b/index.html?old=1",
    "https://h.com/a/b/",
    "https://h.com", // bare domain: merges at root
    "HTTP://UPPER.example.COM:8080/A/B/c?q=1",
    "ftp://files.example.com/pub/x",
    "notaurl",
    "",
    "https://h.com/a//b///c/index.html", // slash runs
    "://weird",
    "https://h.com/a/b\nc/x", // newline inside the path
    " https://lead.example.com/a ", // spaces around the URL
    "https://h.com/a/b/?q=/with/slash",
    null)

  private val refs: Seq[String] = Seq(
    "g", "./g", "g/", "/g", "//cdn.com/x.js", "?y=2", "g?y=2",
    "..", "../", "../g", "../../g", "../../../g", ".", "./",
    "g#frag", "#top", "", " ", "  x  ",
    "mailto:a@b", "javascript:void(0)", "data:text/plain,x",
    "http://abs.com/p?q=1#f", "HTTPS://ABS.com/Public/../x",
    "https://x.com", "//cdn.com/a/./b/../c.js",
    "a/b/../../../z", "/a/b/.", "/a/b/..", "/..", "/.",
    "rel/p1.html", "?", "a?b?c", "a#b#c",
    "x\ny", "a?x\ny", "g\n", "/a/\n", "\t", "\ttab",
    "p1.html", "sch+x-y.z:rest", "+notascheme:x",
    "//", "///", "//?q", "x/./y/", "a/b/c/../..",
    "g;p=1", "%2e%2e/g", "./../g", "..g", "g..", "...", "a/.../b",
    null)

  /** RFC 3986 §5.2.4 remove_dot_segments over an ABSOLUTE path, as a
    * scan-local array fold: split on '/', skip `.` and empty segments
    * (collapsing `//` runs — a deliberate crawl normalization), pop on
    * `..` without ever popping above root, re-join, and restore the
    * directory-reference trailing slash (`/a/b/.` → `/a/b/`,
    * `/a/b/..` → `/a/`). Leading `..` above root is removed, per the
    * RFC's loop. */
  private def removeDotSegments(p: Column): Column = {
    val folded = aggregate(split(p, "/"),
      array(lit("")),
      (acc, s) =>
        when(s === "" || s === ".", acc)
          .when(s === "..",
            when(size(acc) > 1, slice(acc, lit(1), size(acc) - 1))
              .otherwise(acc))
          .otherwise(concat(acc, array(s))))
    val joined = array_join(folded, "/")
    val base = when(joined === "", lit("/")).otherwise(joined)
    // a reference ending in '/', '/.', or '/..' denotes a directory
    when(p.rlike("/(\\.|\\.\\.)?$") && !base.endsWith("/"),
      concat(base, lit("/"))).otherwise(base)
  }

  /** The Column-algebra form of [[UrlOps.resolveRef]] — the semantics
    * reference the compiled expression is differentially tested
    * against. Not used in query paths: its [[removeDotSegments]]
    * aggregate HOFs are interpreted. */
  private def resolveRefColumns(base: Column, ref: Column): Column = {
    import UrlOps.{host, path, scheme}
    val r = regexp_replace(ref, "#.*$", "")
    val sch = lower(scheme(base))
    val hostPart = host(base)
    val bPath = path(base)
    val rPath = regexp_extract(r, "^([^?]*)", 1)
    val rQuery = regexp_extract(r, "(\\?.*)$", 1)
    // base directory per §5.2.3: everything up to the last '/'; an
    // authority-backed empty base path merges as root
    val baseDir = regexp_extract(bPath, "^(.*/)", 1)
    val merged = when(baseDir === "", concat(lit("/"), rPath))
      .otherwise(concat(baseDir, rPath))
    // §5.2.2 applies remove_dot_segments to EVERY reference, absolute
    // ones included — an un-normalized /public/../private/x would both
    // evade a prefix-matched robots Disallow (the under-block
    // direction) and miss the seen set. Scheme/host casing is left
    // untouched (canonical() owns case folding); empty paths pass
    // through (a bare-domain URL has nothing to normalize).
    def normAbs(u: Column): Column = {
      val p = path(u)
      when(p === "", u).otherwise(concat(
        regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)", 1), lit("://"),
        host(u), removeDotSegments(p),
        regexp_extract(u, "(\\?.*)$", 1)))
    }
    when(trim(r) === "", lit(null).cast("string"))
      .when(r.rlike("^(?i)https?://"), normAbs(r))
      .when(r.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), lit(null).cast("string"))
      .when(r.startsWith("//"), normAbs(concat(sch, lit(":"), r)))
      .when(r.startsWith("/"),
        concat(sch, lit("://"), hostPart, removeDotSegments(rPath), rQuery))
      .when(rPath === "", // query-only ref: keep the base path
        concat(sch, lit("://"), hostPart,
          when(bPath === "", lit("/")).otherwise(bPath), rQuery))
      .otherwise(
        concat(sch, lit("://"), hostPart, removeDotSegments(merged), rQuery))
  }

  test("compiled resolveRef ≡ Column-algebra form on the full matrix") {
    val pairs = for (b <- bases; r <- refs) yield (b, r)
    val rows = pairs.toDF("b", "r")
      .select(col("b"), col("r"),
        UrlOps.resolveRef(col("b"), col("r")).as("expr"),
        resolveRefColumns(col("b"), col("r")).as("cols"))
      .collect()
    assert(rows.length === bases.length * refs.length)
    val diffs = rows.filter { row =>
      val e = if (row.isNullAt(2)) null else row.getString(2)
      val c = if (row.isNullAt(3)) null else row.getString(3)
      e != c
    }
    assert(diffs.isEmpty, diffs.take(10).map(row =>
      s"base=${row.get(0)} ref=${row.get(1)} expr=${row.get(2)} cols=${row.get(3)}")
      .mkString("\n", "\n", ""))
  }

  test("interpreted eval path matches (non-codegen glue)") {
    def direct(b: String, r: String): String = {
      val out = graft.expressions.ResolveRef(
        Literal(UTF8String.fromString(b),
          org.apache.spark.sql.types.StringType),
        Literal(UTF8String.fromString(r),
          org.apache.spark.sql.types.StringType)).eval(null)
      if (out == null) null else out.toString
    }
    assert(direct("https://h.com/a/b/index.html", "../g")
      === "https://h.com/a/g")
    assert(direct(null, "http://abs.com/p") === "http://abs.com/p")
    assert(direct(null, "rel") === null)
    assert(direct("https://h.com/a/", null) === null)
  }
}
