package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Robots._

class RobotsSpec extends AnyFunSuite {

  private val txt =
    """# robots for example.test
      |User-agent: *
      |Disallow: /private/
      |Allow: /private/pub/
      |Disallow: /*.tmp$
      |
      |User-agent: GraftBot
      |User-agent: OtherBot
      |Disallow: /graft-only/
      |Crawl-delay: 10
      |""".stripMargin

  test("star group: longest match wins, allow overrides shorter disallow") {
    val rules = rulesFor(txt, "randombot")
    assert(decide(rules, "/private/x") == ((false, "/private/")))
    assert(decide(rules, "/private/pub/x") == ((true, "/private/pub/")))
    assert(decide(rules, "/open/x") == ((true, "")))
  }

  test("$-anchored wildcard rule matches ends only") {
    val rules = rulesFor(txt, "randombot")
    assert(decide(rules, "/file9.tmp") == ((false, "/*.tmp$")))
    assert(decide(rules, "/file9.tmpx")._1)
  }

  test("named group is exclusive: star rules never leak into it") {
    val rules = rulesFor(txt, "graftbot")
    assert(decide(rules, "/graft-only/a") == ((false, "/graft-only/")))
    // /private/ is NOT disallowed for graftbot — its group has no such rule
    assert(decide(rules, "/private/x") == ((true, "")))
  }

  test("stacked user-agent lines share one group; UA match is case-insensitive") {
    assert(!decide(rulesFor(txt, "OTHERBOT"), "/graft-only/a")._1)
    assert(decide(rulesFor(txt, "otherbot"), "/private/x")._1)
  }

  test("allow wins a specificity tie; $ does not add specificity") {
    val t = "User-agent: *\nDisallow: /dir/\nAllow: /dir/$\n"
    // both patterns are 5 octets ($ excluded) → tie → allow
    assert(decide(rulesFor(t, "bot"), "/dir/")._1)
    // beyond the anchor the allow no longer matches
    assert(!decide(rulesFor(t, "bot"), "/dir/x")._1)
  }

  test("empty Disallow allows everything; no matching group allows everything") {
    assert(decide(rulesFor("User-agent: *\nDisallow:\n", "bot"), "/anything")._1)
    assert(decide(rulesFor("User-agent: special\nDisallow: /\n", "bot"), "/x")._1)
  }

  test("Disallow: / blocks all; comments and blank lines are ignored") {
    val t = "# hi\nUser-agent: bot # inline\n\nDisallow: / # everything\n"
    assert(!decide(rulesFor(t, "bot"), "/")._1)
    assert(!decide(rulesFor(t, "bot"), "/deep/path")._1)
  }

  test("field names are case-insensitive") {
    val t = "USER-AGENT: *\nDISALLOW: /a/\nallow: /a/b/\n"
    assert(!decide(rulesFor(t, "bot"), "/a/x")._1)
    assert(decide(rulesFor(t, "bot"), "/a/b/x")._1)
  }

  test("mid-pattern wildcard and rules before any group") {
    val t = "Disallow: /orphan/\nUser-agent: *\nDisallow: /a/*/secret\n"
    assert(decide(rulesFor(t, "bot"), "/orphan/x")._1) // orphan rule has no group
    assert(!decide(rulesFor(t, "bot"), "/a/x/secret")._1)
    assert(!decide(rulesFor(t, "bot"), "/a/x/y/secretz")._1) // prefix semantics after match
    assert(decide(rulesFor(t, "bot"), "/a/secret")._1)
  }

  test("glob matcher edge cases") {
    assert(matches("/", "/"))
    assert(matches("/", "/x"))
    assert(!matches("/x$", "/xy"))
    assert(matches("/*", "/anything"))
    assert(matches("/a*b*c", "/aXbYc-tail"))
    assert(!matches("/a*b$", "/aXbY"))
    assert(matches("/a**b$", "/aXXb"))
    assert(!matches("/abc", "/ab"))
  }
}
