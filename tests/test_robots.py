"""RFC 9309 robots matcher: group selection, longest-match, wildcards,
anchors, tie-breaking — cases taken from the RFC's own examples."""

from crystal_html5_spark.sparkjob.robots import (
    allowed,
    is_allowed,
    parse_robots,
    rules_for,
)


def test_no_robots_allows_everything():
    assert is_allowed("", "bot", "/anything")


def test_empty_disallow_is_no_rule():
    assert is_allowed("User-agent: *\nDisallow:", "bot", "/x")


def test_prefix_disallow():
    txt = "User-agent: *\nDisallow: /p/"
    assert not is_allowed(txt, "bot", "/p/123")
    assert is_allowed(txt, "bot", "/q/123")
    assert is_allowed(txt, "bot", "/p")  # shorter than the pattern


def test_longer_allow_overrides_disallow():
    txt = "User-agent: *\nDisallow: /a/\nAllow: /a/b/"
    assert not is_allowed(txt, "bot", "/a/x")
    assert is_allowed(txt, "bot", "/a/b/x")


def test_allow_wins_length_tie():
    txt = "User-agent: *\nDisallow: /page\nAllow: /page"
    assert is_allowed(txt, "bot", "/page.html")


def test_wildcard_and_end_anchor():
    txt = "User-agent: *\nDisallow: /*.gif$"
    assert not is_allowed(txt, "bot", "/pics/cat.gif")
    assert is_allowed(txt, "bot", "/pics/cat.gif?v=2")  # not at end
    txt2 = "User-agent: *\nDisallow: /fish$"
    assert not is_allowed(txt2, "bot", "/fish")
    assert is_allowed(txt2, "bot", "/fishing")


def test_rfc_example_group_specificity():
    # RFC 9309 §5.1-style: specific UA group beats *, groups merge
    txt = (
        "User-agent: ExampleBot\nDisallow: /private/\n\n"
        "User-agent: *\nDisallow: /\n\n"
        "User-agent: examplebot\nDisallow: /tmp/\n"
    )
    groups = parse_robots(txt)
    rs = rules_for(groups, "ExampleBot")
    assert len(rs) == 2  # both ExampleBot groups merged, '*' ignored
    assert not allowed(rs, "/private/x")
    assert not allowed(rs, "/tmp/y")
    assert allowed(rs, "/public")
    # an unknown agent falls back to '*'
    assert not is_allowed(txt, "otherbot", "/anything")


def test_comments_and_unknown_keys_ignored():
    txt = (
        "# a comment\nSitemap: https://x/s.xml\n"
        "User-agent: * # trailing comment\nCrawl-delay: 10\n"
        "Disallow: /secret/\n"
    )
    assert not is_allowed(txt, "bot", "/secret/f")
    assert is_allowed(txt, "bot", "/open")


def test_case_insensitive_keys_and_agents():
    txt = "USER-AGENT: MyBot\nDISALLOW: /x/"
    assert not is_allowed(txt, "mybot", "/x/1")
    assert is_allowed(txt, "OtherBot", "/x/1")  # no '*' group at all


def test_mid_pattern_wildcard():
    txt = "User-agent: *\nDisallow: /a/*/c"
    assert not is_allowed(txt, "bot", "/a/b/c")
    assert not is_allowed(txt, "bot", "/a/bb/cc")
    assert is_allowed(txt, "bot", "/a/b")


def test_differential_vs_stdlib_robotparser():
    """Differential check against an independent implementation: for
    PREFIX-ONLY rules (no wildcards/anchors — the subset where the old
    REP and RFC 9309 coincide), urllib.robotparser's first-match over a
    longest-first, allow-before-disallow-on-ties rule order equals RFC
    longest-match.  Our engine receives the rules SHUFFLED (longest-
    match must be order-free); stdlib receives them sorted."""
    import random
    import urllib.robotparser as rp

    segs = ["/a", "/b", "/a/b", "/a/c", "/b/c", "/a/b/c", "/c"]
    paths = ["/a", "/a/b", "/a/b/c", "/a/bx", "/a/c/d", "/b", "/b/c/d",
             "/c/x", "/d", "/a/b/c/d"]
    rng = random.Random(7)
    from crystal_html5_spark.sparkjob.robots import is_allowed

    for trial in range(200):
        n = rng.randint(1, 5)
        rules = []
        seen = set()
        for _ in range(n):
            pat = rng.choice(segs)
            al = rng.random() < 0.5
            if pat in seen:
                continue  # one rule per pattern: tie semantics differ
            seen.add(pat)
            rules.append((al, pat))
        ordered = sorted(rules, key=lambda r: (-len(r[1]), not r[0]))
        lines = ["User-agent: *"] + [
            ("Allow: " if al else "Disallow: ") + pat
            for al, pat in ordered
        ]
        parser = rp.RobotFileParser()
        parser.parse(lines)
        shuffled = rules[:]
        rng.shuffle(shuffled)
        txt = "\n".join(["User-agent: *"] + [
            ("Allow: " if al else "Disallow: ") + pat
            for al, pat in shuffled
        ])
        for path in paths:
            want = parser.can_fetch("anybot", "http://h.example" + path)
            got = is_allowed(txt, "anybot", path)
            assert got == want, (trial, rules, path, got, want)


def test_parser_never_raises_on_garbage():
    """Crawl-scale inputs include broken robots.txt; the parser and
    matcher must classify, never crash."""
    import random

    from crystal_html5_spark.sparkjob.robots import is_allowed

    rng = random.Random(3)
    alphabet = "Uu*:/ab#\n\r\t $%\x00é"
    for _ in range(300):
        txt = "".join(rng.choice(alphabet)
                      for _ in range(rng.randrange(0, 200)))
        verdict = is_allowed(txt, "bot", "/a/b")
        assert verdict in (True, False)


def test_linear_matcher_equals_regex_reference():
    """The linear-time greedy matcher must agree with a regex
    formulation ('.*'.join of escaped segments, trailing '$' anchor) —
    property-tested over random patterns/paths dense in '*' and '$',
    plus adversarial hand cases.  The reference is compiled DOTALL and
    anchors at the very end (\\Z): '*' spans '\\n' and '$' is not
    satisfied before a trailing newline, as _pattern_matches documents."""
    import random
    import re

    from crystal_html5_spark.sparkjob.robots import _pattern_matches

    def regex_ref(pattern, path):
        anchored = pattern.endswith("$")
        if anchored:
            pattern = pattern[:-1]
        rx = ".*".join(re.escape(p) for p in pattern.split("*"))
        if anchored:
            rx += r"\Z"
        return re.match(rx, path, re.DOTALL) is not None

    hand = [
        ("", "/a"), ("$", ""), ("$", "/"), ("*$", "/x"),
        ("/*$", "/"), ("/a*b*c$", "/a-b-b-c"), ("/a*b*c$", "/a-c-b"),
        ("/a**b", "/ab"), ("/a**b", "/a/b"), ("***", "/"),
        ("/p$x", "/p$x"), ("/p$x", "/px"),
        ("/fish*.php$", "/fish/salmon.php"),
        ("/fish*.php$", "/fish.php?x=1"),
        ("/a*b", "/a\nb"), ("/a*b$", "/a\n\nb"), ("/*", "/\n"),
        ("/a$", "/a\n"), ("/a*$", "/a\n"), ("/x*y", "/x\n"),
        ("/a\n*c$", "/a\nb\nc"),
    ]
    for pat, path in hand:
        assert _pattern_matches(pat, path) == regex_ref(pat, path), \
            (pat, path)

    rng = random.Random(99)
    alpha = "ab/*$"
    for _ in range(3000):
        pat = "".join(rng.choice(alpha)
                      for _ in range(rng.randrange(0, 10)))
        path = "/" + "".join(rng.choice("ab/\n")
                             for _ in range(rng.randrange(0, 14)))
        assert _pattern_matches(pat, path) == regex_ref(pat, path), \
            (pat, path)


def test_linear_matcher_hostile_pattern_fast():
    """The catastrophic-backtracking case the regex form was vulnerable
    to: many wildcards, long non-matching path — must answer quickly."""
    import time

    from crystal_html5_spark.sparkjob.robots import _pattern_matches

    pattern = "/a" + "*a" * 30 + "b$"
    path = "/" + "a" * 5000
    t0 = time.perf_counter()
    assert _pattern_matches(pattern, path) is False
    assert time.perf_counter() - t0 < 0.1
