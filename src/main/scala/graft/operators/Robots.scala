package graft.operators

/** Robots Exclusion Protocol (RFC 9309) — the per-host URL admission
  * stage of a crawl-derived corpus: parse `robots.txt`, select the rule
  * group for a product token, and decide each URL path by
  * longest-pattern match.
  *
  * Semantics implemented per the RFC:
  *  - groups are consecutive `User-agent` lines followed by
  *    `Allow`/`Disallow` rules; field names and UA tokens match
  *    case-insensitively; `#` starts a comment;
  *  - a crawler obeys ONLY the most specific matching group(s): all
  *    groups naming its product token if any exist, else the `*`
  *    groups — a `*` rule never leaks into a named crawler's decision;
  *  - patterns support `*` (any char run) and a trailing `$` (end
  *    anchor); otherwise a rule matches any path it prefixes;
  *  - the most specific (longest) matching pattern wins; on a
  *    length tie `Allow` wins; no matching rule → allowed. Specificity
  *    is the octet length of the pattern EXCLUDING the trailing `$`
  *    (the anchor constrains, it does not add octets).
  *
  * Scale shape: parse once per HOST (the robots dim — small enough to
  * broadcast at any corpus scale; ~10⁸ hosts is a few GB of rules),
  * evaluate per URL as a map-only function of (rules, path). Never
  * re-parse per URL.
  */
object Robots {

  /** One admission rule, in document order. */
  final case class Rule(allow: Boolean, pattern: String) {
    /** RFC specificity: pattern octets, `$` anchor excluded. */
    def specificity: Int =
      if (pattern.endsWith("$")) pattern.length - 1 else pattern.length
  }

  /** Parse robots.txt and resolve the effective rule list for one
    * product token (lowercase comparison per the RFC). */
  def rulesFor(robotsTxt: String, productToken: String): Seq[Rule] = {
    val token = productToken.toLowerCase
    // (uaTokens, rules) per group
    val groups = Seq.newBuilder[(Seq[String], Seq[Rule])]
    var uas = Seq.empty[String]
    var rules = Seq.newBuilder[Rule]
    var inUaRun = false // consecutive UA lines stack onto one group
    var open = false

    def closeGroup(): Unit = {
      if (open) groups += ((uas, rules.result()))
      uas = Seq.empty; rules = Seq.newBuilder[Rule]; open = false
    }

    robotsTxt.split("\n").foreach { raw =>
      val noComment = {
        val h = raw.indexOf('#')
        if (h >= 0) raw.substring(0, h) else raw
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (!inUaRun) closeGroup()
            uas :+= value.toLowerCase
            inUaRun = true; open = true
          case "allow" | "disallow" =>
            inUaRun = false
            // a rule before any user-agent line has no group: ignored
            if (open && value.nonEmpty) rules += Rule(field == "allow", value)
            else if (open && value.isEmpty) () // empty pattern matches nothing
          case _ =>
            inUaRun = false // sitemap, crawl-delay, unknown: group continues
        }
      }
    }
    closeGroup()

    val all = groups.result()
    val named = all.filter(_._1.contains(token))
    val chosen = if (named.nonEmpty) named else all.filter(_._1.contains("*"))
    chosen.flatMap(_._2)
  }

  /** Does `pattern` (with `*` wildcards, optional trailing `$`) match
    * `path`? Unanchored patterns prefix-match. Greedy-with-backtracking
    * glob, O(len·stars), no regex engine. */
  def matches(pattern: String, path: String): Boolean = {
    val (pat, anchored) =
      if (pattern.endsWith("$")) (pattern.dropRight(1), true) else (pattern, false)
    // match pat against a prefix of path (all of it when anchored)
    var pi = 0; var si = 0
    var starPi = -1; var starSi = -1
    while (si < path.length) {
      if (pi < pat.length && (pat.charAt(pi) == path.charAt(si))) { pi += 1; si += 1 }
      else if (pi < pat.length && pat.charAt(pi) == '*') { starPi = pi; pi += 1; starSi = si }
      else if (pi == pat.length && !anchored) return true // prefix consumed
      else if (starPi >= 0) { starSi += 1; si = starSi; pi = starPi + 1 }
      else return false
    }
    // path exhausted: remaining pattern must be all '*'
    while (pi < pat.length && pat.charAt(pi) == '*') pi += 1
    pi == pat.length
  }

  /** Decide one path: (allowed, winning pattern or ""). */
  def decide(rules: Seq[Rule], path: String): (Boolean, String) = {
    var best: Rule = null
    rules.foreach { r =>
      if (matches(r.pattern, path)) {
        if (best == null || r.specificity > best.specificity ||
          (r.specificity == best.specificity && r.allow && !best.allow)) best = r
      }
    }
    if (best == null) (true, "") else (best.allow, best.pattern)
  }
}
