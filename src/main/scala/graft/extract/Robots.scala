package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** robots.txt parsing + gating (S4), pinned to the exact semantics the
  * reference relies on: `/root/reference/sidecar/crawler.py:101-127` parses
  * with Python's `urllib.robotparser.RobotFileParser` and gates every
  * crawl candidate via `can_fetch("OpenFeeder-Sidecar", url)`. The network
  * fetch stays out of scope (SURVEY §2.1); this is the pure rule engine
  * over already-fetched content, mirroring CPython's robotparser
  * (public stdlib) behavior bit-for-bit:
  *
  *  - group state machine: blank lines close a group; a `user-agent` line
  *    after rules starts a new group; values are percent-unquoted
  *  - an entry containing `*` becomes THE default entry (first wins) and
  *    is consulted only when no named entry matches
  *  - agent match: entry agent (lowercased) is a SUBSTRING of the request
  *    agent's `split('/')(0).toLowerCase`
  *  - rule match: FIRST rule in file order whose (re-quoted) path is a
  *    prefix of the normalized url wins — no longest-match, so an `Allow`
  *    after a broader `Disallow` is dead, exactly like urllib
  *  - url normalization: unquote the whole url, drop scheme+authority,
  *    re-quote with safe="/" (query strings become %3F... and participate
  *    in prefix matching), empty → "/"
  *  - bare `Disallow:` (empty path) parses as allow-everything
  *  - no matching rule, or no matching entry at all → allowed
  */
object Robots {

  final case class Rule(path: String, allow: Boolean)
  final case class Group(agents: Vector[String], rules: Vector[Rule],
      crawlDelay: Option[Int])
  final case class Rules(groups: Vector[Group], default: Option[Group],
      sitemaps: Vector[String]) {

    private def groupFor(agent: String): Option[Group] = {
      val a = agent.split("/", 2)(0).toLowerCase(java.util.Locale.ROOT)
      groups.find(_.agents.exists(g =>
        a.contains(g.toLowerCase(java.util.Locale.ROOT)))).orElse(default)
    }

    /** urllib `can_fetch(agent, url)`. */
    def canFetch(agent: String, url: String): Boolean =
      groupFor(agent) match {
        case None => true
        case Some(g) =>
          val norm = normalizeUrl(url)
          g.rules.find(r => r.path == "*" || norm.startsWith(r.path))
            .forall(_.allow)
      }

    /** urllib `crawl_delay(agent)`. */
    def crawlDelay(agent: String): Option[Int] =
      groupFor(agent).flatMap(_.crawlDelay)

    /** The Spark-first gate: the matched group's rule chain COMPILED into
      * a codegen'd first-match-wins when-chain over a path column (the
      * agent is a job-level literal, so group selection happens once on
      * the driver; zero UDFs, pushes through Catalyst like any boolean
      * expression). `path` must already be normalized the way
      * [[normalizeUrl]] does — for the common all-ASCII path tables the
      * normalization is the identity; `of_robots_allowed` covers the
      * general case. */
    def allowedColumn(agent: String, path: Column): Column =
      groupFor(agent) match {
        case None => lit(true)
        case Some(g) =>
          g.rules.foldRight(lit(true): Column) { (r, rest) =>
            if (r.path == "*") lit(r.allow)
            else when(path.startsWith(r.path), lit(r.allow)).otherwise(rest)
          }
      }
  }

  /** Percent-decode like urllib.parse.unquote: valid %XX pairs become
    * bytes (malformed sequences stay literal), then UTF-8 decode with
    * replacement. */
  def unquote(s: String): String = {
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hex(s.charAt(i + 1)) >= 0 && hex(s.charAt(i + 2)) >= 0) {
        out.write(hex(s.charAt(i + 1)) * 16 + hex(s.charAt(i + 2)))
        i += 3
      } else {
        val bs = c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.write(bs, 0, bs.length)
        i += 1
      }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Percent-encode like urllib.parse.quote (safe="/"): UTF-8 bytes,
    * uppercase hex, unreserved `A-Za-z0-9_.-~` and `/` kept. */
  def quote(s: String): String = TextUtil.percentEncode(s, "_.-~/")

  /** can_fetch's url normalization, mirroring urlparse: unquote the whole
    * url, drop `scheme:` (letters/digits/+-. after a leading letter), drop
    * a `//authority` (which ends at the first `/`, `?` or `#` — including
    * the protocol-relative `//host/...` form with no scheme), keep
    * path+params+query+fragment, re-quote, empty → "/". Pinned against
    * urllib: `//host/p` → `/p`, `http://host?q=1` → `%3Fq%3D1`,
    * `mailto:x@y/p` → `x%40y/p`, `relative/p` stays. */
  def normalizeUrl(url: String): String = {
    val un = unquote(url)
    val afterScheme = {
      val ci = un.indexOf(':')
      val validScheme = ci > 0 && {
        val s = un.substring(0, ci)
        (s.charAt(0).isLetter && s.charAt(0) < 0x80) && s.forall(c =>
          (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.')
      }
      if (validScheme) un.substring(ci + 1) else un
    }
    val rest =
      if (afterScheme.startsWith("//")) {
        var i = 2
        while (i < afterScheme.length && afterScheme.charAt(i) != '/' &&
          afterScheme.charAt(i) != '?' && afterScheme.charAt(i) != '#') i += 1
        if (i >= afterScheme.length) "" else afterScheme.substring(i)
      } else afterScheme
    val q = quote(rest)
    if (q.isEmpty) "/" else q
  }

  /** Parse robots.txt content (the state machine of CPython's
    * RobotFileParser.parse, including its quirks: `#` comments anywhere,
    * keys case-insensitive, a rules-then-user-agent sequence closes the
    * group, `Sitemap:` is group-independent). */
  def parse(content: String): Rules = {
    var groups = Vector.empty[Group]
    var default: Option[Group] = None
    var sitemaps = Vector.empty[String]
    var agents = Vector.empty[String]
    var rules = Vector.empty[Rule]
    var delay: Option[Int] = None
    var state = 0 // 0 none, 1 saw user-agent, 2 saw rule

    def flush(): Unit = {
      val g = Group(agents, rules, delay)
      if (agents.contains("*")) { if (default.isEmpty) default = Some(g) }
      else groups :+= g
      agents = Vector.empty; rules = Vector.empty; delay = None
    }

    content.linesIterator.foreach { raw =>
      var line = raw
      // CPython checks `if not line:` on the RAW line — only a truly empty
      // line closes a group; a whitespace-only line does not
      if (line.isEmpty) {
        if (state == 1) { agents = Vector.empty; rules = Vector.empty; delay = None; state = 0 }
        else if (state == 2) { flush(); state = 0 }
      }
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      if (line.nonEmpty) {
        val idx = line.indexOf(':')
        if (idx >= 0) {
          val key = line.substring(0, idx).trim.toLowerCase(java.util.Locale.ROOT)
          val value = unquote(line.substring(idx + 1).trim)
          key match {
            case "user-agent" =>
              if (state == 2) { flush(); state = 0 }
              agents :+= value
              state = 1
            case "disallow" =>
              if (state != 0) {
                // bare "Disallow:" means allow-everything (urllib quirk)
                rules :+= Rule(quote(value), allow = value.isEmpty)
                state = 2
              }
            case "allow" =>
              if (state != 0) { rules :+= Rule(quote(value), allow = true); state = 2 }
            case "crawl-delay" =>
              if (state != 0) {
                if (value.forall(_.isDigit) && value.nonEmpty) delay = Some(value.toInt)
                state = 2
              }
            case "sitemap" => sitemaps :+= value
            case _ => ()
          }
        }
      }
    }
    if (state == 2) flush()
    Rules(groups, default, sitemaps)
  }
}
