"""Pure-function parity tests for the kernel library (no Spark).

Table/property tests of is_valid_url / matches_pattern / classify_links /
extract_links against the reference's exact semantics
(url_utils.py:5-24, crawl_manager_utils.py:18-125,
frontier_spider.py:186-212) on adversarial URL fixtures (FIXTURES.md §8).
"""

import re

import pytest
from hypothesis import given
from hypothesis import strategies as st

from scrapy_playwright_scrapegraphai_spark.functions import kernels as K


# --- is_valid_url (url_utils.py:5-11) ---------------------------------------

@pytest.mark.parametrize(
    "url,ok",
    [
        ("https://a.b/p", True),
        ("http://a.b", True),
        ("ftp://x.y/z", True),
        ("//a.b/p", False),            # no scheme
        ("a.b/p", False),              # no scheme
        ("https:///p", False),         # no netloc
        ("javascript:void(0)", False), # no netloc
        ("mailto:x@y.z", False),       # no netloc
        ("", False),
        ("https://a.b/p#frag", True),
        ("https://user:pw@a.b:8080/p?q=1", True),
    ],
)
def test_is_valid_url(url, ok):
    assert K.is_valid_url(url) is ok


# --- matches_pattern (url_utils.py:14-24) -----------------------------------

def test_matches_pattern_empty():
    assert K.matches_pattern("https://a.b/x.pdf", []) is False
    assert K.matches_pattern("https://a.b/x.pdf", None) is False


def test_matches_pattern_substring_case_insensitive():
    assert K.matches_pattern("https://a.b/Doc.PDF", [".pdf"])
    assert K.matches_pattern("https://a.b/doc.pdf", [".PDF"])
    assert not K.matches_pattern("https://a.b/doc.txt", [".pdf"])


def test_matches_pattern_regex_fallback():
    assert K.matches_pattern("https://a.b/download/123", [r"/download/\d+"])
    assert not K.matches_pattern("https://a.b/download/abc", [r"/download/\d+"])
    # regex is case-insensitive (re.IGNORECASE)
    assert K.matches_pattern("https://a.b/DOWNLOAD/123", [r"/download/\d+"])


def test_matches_pattern_substring_first_shields_invalid_regex():
    # '[invalid' is an invalid regex but a valid substring → substring wins
    assert K.matches_pattern("https://a.b/[invalid/x", ["[invalid"])
    # invalid regex that is NOT a substring → re.error propagates (reference
    # behavior: the exception escapes matches_pattern)
    with pytest.raises(re.error):
        K.matches_pattern("https://a.b/x", ["[unclosed"])


# --- classify_links (crawl_manager_utils.py:18-125) --------------------------

LINKS = [
    "https://h.t/page/1",       # seed
    "https://h.t/doc.pdf",      # target
    "not-a-url",                # invalid → dropped
    "https://h.t/page/2",       # seed
    "https://h.t/other.PDF",    # target (case-insensitive)
]


def test_classify_type0_direct_target():
    items = K.classify_links("https://h.t/d.pdf", LINKS, 0, [], None, 0, 0)
    assert len(items) == 1
    assert items[0].url == "https://h.t/d.pdf"
    assert items[0].is_target and items[0].depth == 0 and items[0].item_seq == 0


def test_classify_type1_targets_only():
    items = K.classify_links("https://h.t/", LINKS, 1, [".pdf"], "/page/", 0, 0)
    assert [i.url for i in items] == ["https://h.t/doc.pdf", "https://h.t/other.PDF"]
    assert all(i.is_target and i.depth == 0 for i in items)


def test_classify_type2_below_max_depth_targets_then_seeds():
    items = K.classify_links("https://h.t/", LINKS, 2, [".pdf"], "/page/", 0, 1)
    # reference order: all targets (link order) then all seeds (link order)
    assert [i.url for i in items] == [
        "https://h.t/doc.pdf",
        "https://h.t/other.PDF",
        "https://h.t/page/1",
        "https://h.t/page/2",
    ]
    assert [i.is_target for i in items] == [True, True, False, False]
    # targets carry current_depth, seeds carry current_depth+1
    assert [i.depth for i in items] == [0, 0, 1, 1]
    assert [i.item_seq for i in items] == [0, 1, 2, 3]


def test_classify_type2_at_max_depth_targets_only():
    items = K.classify_links("https://h.t/", LINKS, 2, [".pdf"], "/page/", 1, 1)
    assert all(i.is_target for i in items)
    assert len(items) == 2


def test_classify_type2_beyond_max_depth_nothing():
    assert K.classify_links("https://h.t/", LINKS, 2, [".pdf"], "/page/", 2, 1) == []


def test_classify_invalid_regex_aborts_page_partial():
    # invalid regex in target_patterns and links that don't substring-match →
    # re.error inside _target_links → reference returns items-so-far (none)
    items = K.classify_links(
        "https://h.t/", ["https://h.t/x"], 2, ["[unclosed"], "/page/", 0, 1
    )
    assert items == []


def test_classify_no_seed_pattern_no_seeds():
    items = K.classify_links("https://h.t/", LINKS, 2, [".pdf"], None, 0, 1)
    assert all(i.is_target for i in items)


# --- extract_links / extract_text (frontier_spider.py:186-212) ---------------

HTML = b"""<html><head><title>T</title>
<script>var a = '<a href="https://no.t/script">x</a>';</script>
<style>.x{}</style></head>
<body>
<p>Hello  world</p>
<a href="/rel/1">r1</a>
<a href="page2">r2</a>
<a href="../up">r3</a>
<a href="https://abs.t/p">abs</a>
<a href="">empty</a>
<a>nohref</a>
<a href="#frag">frag</a>
<div class="modal" id="m"><a href="/modal/doc.pdf">m</a></div>
<p>Tail</p>
</body></html>"""


def test_extract_links_order_resolution_and_modal_duplication():
    links = K.extract_links(HTML, "https://base.t/dir/page1")
    assert links == [
        "https://base.t/rel/1",
        "https://base.t/dir/page2",
        "https://base.t/up",
        "https://abs.t/p",
        "https://base.t/dir/page1#frag",
        "https://base.t/modal/doc.pdf",   # main pass (modal anchors are in DOM)
        "https://base.t/modal/doc.pdf",   # appended again by the modal pass
    ]


def test_extract_links_script_anchors_not_parsed():
    links = K.extract_links(HTML, "https://base.t/")
    assert "https://no.t/script" not in links


def test_extract_text_deterministic_and_skips_script_style():
    text = K.extract_text(HTML)
    assert "Hello  world" in text
    assert "var a" not in text and ".x{}" not in text
    assert text == K.extract_text(HTML)  # determinism
    # bytes-identity under round-trip
    assert text.encode("utf-8") == K.extract_text(HTML).encode("utf-8")


def test_extract_links_accepts_str_and_bytes():
    assert K.extract_links(HTML.decode(), "https://b.t/") == K.extract_links(
        HTML, "https://b.t/"
    )


def test_extract_broken_html_salvages():
    broken = b"<html><body><a href='/x'>ok</a><div><<<"
    assert K.extract_links(broken, "https://h.t/") == ["https://h.t/x"]


# --- canonicalize / main_domain ----------------------------------------------

def test_canonicalize_exact_is_identity():
    u = "HTTPS://Host.T:443/P?q=1#f"
    assert K.canonicalize_url(u) == u


def test_canonicalize_normalize():
    assert (
        K.canonicalize_url("HTTPS://Host.T:443/P?q=1#f", mode="normalize")
        == "https://host.t/P?q=1"
    )
    assert K.canonicalize_url("http://A.B:80", mode="normalize") == "http://a.b/"


def test_main_domain():
    assert K.main_domain("https://user@h.t:8080/p") == "user@h.t:8080"
    assert K.main_domain("https://h.t/p") == "h.t"


# --- robots / budget ----------------------------------------------------------

def test_robots_allows():
    assert K.robots_allows("https://h.t/pub/x", [], ["/private/"])
    assert not K.robots_allows("https://h.t/private/x", [], ["/private/"])
    assert K.robots_allows("https://h.t/private/ok", ["/private/ok"], ["/private/"])
    assert K.robots_allows("https://h.t/anything", [], [])


def test_host_budget():
    assert K.host_budget(2.0, 10.0) == 5
    assert K.host_budget(4.0, 10.0) == 2
    assert K.host_budget(None, 10.0) == 5   # default DOWNLOAD_DELAY=2
    assert K.host_budget(100.0, 10.0) == 1  # minimum 1


# --- property tests -----------------------------------------------------------

@given(st.text(max_size=50))
def test_is_valid_url_never_raises(s):
    assert K.is_valid_url(s) in (True, False)


@given(st.text(max_size=80), st.text(min_size=1, max_size=10))
def test_substring_match_parity(url, pat):
    # whenever pat is a ci-substring of url, matches_pattern must be True
    if pat.lower() in url.lower():
        assert K.matches_pattern(url, [pat])


@given(st.binary(max_size=300))
def test_extract_never_raises_on_garbage(b):
    K.extract_links(b, "https://h.t/")
    K.extract_text(b)


# --- fast href resolver: exact urljoin equivalence ----------------------------

_HREF_CHARS = st.sampled_from(
    [chr(c) for c in range(0x09, 0x0E)]
    + [chr(c) for c in range(0x20, 0x7F)]
    + [chr(c) for c in range(0xE0, 0x100)]
)


@given(
    st.sampled_from(
        [
            "http://h.example.test/a/b",
            "https://User:p@Host.TEST:8080/x/y/z?q=1#f",
            "HTTPS://host/",
            "http://host",
            "ftp://host/dir/",
            "weird-scheme://x/p",
            "http://host/p;param?q#frag",
        ]
    ),
    st.text(alphabet=_HREF_CHARS, min_size=1, max_size=40),
)
def test_resolver_matches_urljoin(base, href):
    from urllib.parse import urljoin

    assert K._make_resolver(base)(href) == urljoin(base, href)


@given(st.text(alphabet=_HREF_CHARS, min_size=1, max_size=40))
def test_resolver_matches_urljoin_slash_paths(href):
    """Bias the generator onto the fast path's gate boundary. urljoin
    itself can raise (e.g. ValueError on '//[' pseudo-IPv6 hosts); the
    contract is result-or-exception equivalence."""
    from urllib.parse import urljoin

    base = "https://h.example.test/a/b?x=1"
    resolve = K._make_resolver(base)

    def outcome(fn, *a):
        try:
            return ("ok", fn(*a))
        except Exception as e:
            return ("err", type(e))

    for h in ("/" + href, "/." + href, "/.." + href, "//" + href,
              "/" + href + "/.", "/" + href + "/.."):
        assert outcome(resolve, h) == outcome(urljoin, base, h)


def test_parse_page_fused_equals_separate_kernels():
    html = (
        b"<html><body><p>Hello  world</p>"
        b'<a href="/a/1">x</a><a href="page/2">y</a>'
        b'<a href="/a/../up">z</a><a href="//proto.rel/p">w</a>'
        b'<a href="https://abs.example/q">v</a>'
        b'<div class="modal"><a href="/modal/1">m</a></div>'
        b"<script>var a=1;</script><style>.x{}</style>"
        b"<p>tail</p></body></html>"
    )
    base = "https://h.example.test/dir/page"
    links, text = K.parse_page(html, base)
    assert links == K.extract_links(html, base)
    assert text == K.extract_text(html)
    assert "var a=1;" not in text and "Hello  world" in text
    assert links.count("https://h.example.test/modal/1") == 2  # modal re-emit


def test_classify_aborts_page_on_any_exception_like_reference():
    """crawl_manager_utils.py:54-71 catches Exception (not just re.error):
    a null pattern element reaching re.search must abort the page with
    the items accumulated so far, never crash the batch."""
    links = ["https://h.t/a.pdf", "https://h.t/b.doc"]
    # None in target_patterns → TypeError inside the target-list pass;
    # reference granularity: the whole target list is built before items
    # extend, so the page yields [] — and must NOT raise
    items = K.classify_links(
        "https://h.t/", links, 2, [".pdf", None], "/b", 0, 1
    )
    assert items == []
    # seed-side failure: the reference computes seed_items BEFORE
    # extending items with the (complete) target list, so this page also
    # yields [] — and again must not raise
    items2 = K.classify_links(
        "https://h.t/", links, 2, [".pdf"], 123, 0, 1  # non-str seed_pattern
    )
    assert items2 == []


def test_extract_links_duplicate_attribute_first_wins():
    """HTML5 (and Playwright's DOM in the reference) keeps the FIRST of
    duplicate attributes."""
    html = b'<html><body><a href="/real" href="/decoy">x</a></body></html>'
    assert K.extract_links(html, "https://h.t/") == ["https://h.t/real"]
    # duplicate class on a modal div: first wins for modal detection
    html2 = (b'<html><body><div class="modal" class="plain">'
             b'<a href="/m">m</a></div></body></html>')
    links = K.extract_links(html2, "https://h.t/")
    assert links == ["https://h.t/m", "https://h.t/m"]  # modal double-emission


# --- gated fast scanner ≡ HTMLParser path (kernels._fast_parse) ---------------
#
# The fast path must be byte-identical to the HTMLParser path on every
# document it accepts; docs it rejects fall back, so the public kernels
# are correct either way. These tests compare the PUBLIC kernels against
# the slow path computed directly, plus assert gate behavior.

def _slow_reference(html, base):
    p = K._parse_page(html)
    resolve = K._make_resolver(base)
    links = [resolve(u) for u in p.hrefs if u]
    links.extend(resolve(u) for u in p.modal_hrefs if u)
    return links, "\n".join(p.text_chunks)


def _assert_public_equals_slow(html, base="https://h.t/dir/x"):
    exp_links, exp_text = _slow_reference(html, base)
    links, text = K.parse_page(html, base)
    assert links == exp_links
    assert text == exp_text
    assert K.extract_links(html, base) == exp_links
    assert K.extract_text(html) == exp_text


def test_fast_path_taken_on_simple_doc():
    s = '<html><body><p>hi there</p><a href="/x">x</a></body></html>'
    assert K._fast_parse(s) is not None
    _assert_public_equals_slow(s)


@pytest.mark.parametrize(
    "doc",
    [
        # each must be REJECTED by the gate (entities / comments / script /
        # style / modal / uppercase / single quotes / unquoted values /
        # stray '<' / vertical tab in tag) and parsed by the slow path
        '<p>a &amp; b</p><a href="/x?a=1&b=2">x</a>',
        "<!DOCTYPE html><p>t</p>",
        "<!-- c --><a href=\"/x\">x</a>",
        "<script>var a = '<a href=\"/no\">';</script><a href=\"/yes\">y</a>",
        "<style>a{color:red}</style><p>t</p>",
        '<div class="modal"><a href="/m">m</a></div><a href="/x">x</a>',
        '<A HREF="/x">x</A>',
        "<a href='/single'>s</a>",
        "<a href=/unquoted>u</a>",
        "<p>1 < 2</p>",
        '<a\vhref="/x">v</a>',
        '<a href="/x">nb</a>',
        '<a data:weird="1" href="/x">x</a>',
        '<my-tag><a href="/x">x</a></my-tag>',
    ],
)
def test_gate_rejects_and_slow_path_agrees(doc):
    assert K._fast_parse(doc) is None
    _assert_public_equals_slow(doc)


@pytest.mark.parametrize(
    "doc,want_hrefs",
    [
        # accepted by the gate; anchor-shape corner cases must match
        # HTML5/HTMLParser semantics exactly
        ('<a href="/a" href="/b">x</a>', ["/a"]),          # first wins
        ('<a href>x</a>', []),                              # valueless
        ('<a href="">x</a>', []),                           # empty value
        ("<a>x</a>", []),                                   # no attrs
        ('<a/>', []),                                       # self-closing bare
        ('<a href="/sc"/>', ["/sc"]),                       # self-closing
        ('<a class="k" href="/late">x</a>', ["/late"]),     # href not first
        ('<a\nhref="/nl">x</a>', ["/nl"]),                  # newline ws
        ('<abbr href="/not-anchor">x</abbr>', []),          # tag prefix 'a'
        ('<a2 href="/not-anchor">x</a2>', []),              # tag 'a2'
    ],
)
def test_fast_path_anchor_corners(doc, want_hrefs):
    r = K._fast_parse(doc)
    assert r is not None, "expected fast path"
    assert r[0] == want_hrefs
    _assert_public_equals_slow(doc)


_TEXT_ALPHA = st.text(
    alphabet="ab >/\"'=\t\n.", max_size=12  # no & or < (gate-safe text)
)
_FRAGMENTS = st.one_of(
    _TEXT_ALPHA,
    st.just("<p>"),
    st.just("</p>"),
    st.just("<br/>"),
    st.just('<a href="/x/y">'),
    st.just('<a href="">'),
    st.just("<a href>"),
    st.just("<a>"),
    st.just("</a>"),
    st.just('<a class="c" href="/q">'),
    st.just('<a href="/a" href="/b">'),
    st.just('<div class="x">'),
    st.just("</div>"),
    # gate-rejected fragments — exercise the fallback inside mixed docs
    st.just("&amp;"),
    st.just("<!-- x -->"),
    st.just("<script>z</script>"),
    st.just('<div class="modal">'),
    st.just("<A>"),
    st.just("<a href='/s'>"),
    st.just("<"),
    st.just(">"),
)


@given(st.lists(_FRAGMENTS, max_size=20))
def test_fast_parser_parity_fuzz_structured(frags):
    doc = "".join(frags)
    _assert_public_equals_slow(doc)


@given(st.text(alphabet='<>&"=/abp \t\n!?-', max_size=60))
def test_fast_parser_parity_fuzz_soup(s):
    _assert_public_equals_slow(s)


@given(st.binary(max_size=200))
def test_fast_parser_parity_fuzz_bytes(b):
    _assert_public_equals_slow(b)


# --- main_domain JVM-native mirror (udfs.main_domain_native) -----------------

def _native_netloc_mirror(u: str):
    """Pure-Python mirror of the Spark regexp chain in
    udfs.main_domain_native — same three steps, same patterns."""
    u = re.sub(r"[\t\n\r]", "", u)
    u = re.sub(r"^[\x00-\x20]+", "", u)
    m = re.match(r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]*)", u)
    return m.group(1) if m else ""


def _assert_mirror_matches_kernel(u: str) -> None:
    """On every string urlparse accepts (it raises on an unbalanced
    bracket in the authority) the native expression must equal
    urlparse(url).netloc exactly."""
    try:
        want = K.main_domain(u)
    except ValueError:
        return
    assert _native_netloc_mirror(u) == want


@given(st.text(alphabet=_HREF_CHARS, min_size=1, max_size=60))
def test_main_domain_native_mirror_matches_kernel(u):
    _assert_mirror_matches_kernel(u)


_NETLOC_CHARS = st.sampled_from(
    [chr(c) for c in range(0x00, 0x7F)]
    + [chr(c) for c in range(0xE0, 0x100)]
    + ["\u0131", "\u20ac"]
)


# the text before "//": a scheme, nothing (scheme-relative) or arbitrary
# text — urlsplit reads a scheme only from the text before the FIRST ':'
@given(st.one_of(st.sampled_from(["http:", "HTTPS:", "a+b-c.d:", ""]),
                 st.text(alphabet=_HREF_CHARS, max_size=12)),
       st.text(alphabet=_NETLOC_CHARS, min_size=0, max_size=30),
       st.text(alphabet=_NETLOC_CHARS, min_size=0, max_size=8))
def test_main_domain_native_mirror_matches_kernel_urlish(scheme, rest, lead):
    _assert_mirror_matches_kernel(f"{lead}{scheme}//{rest}")
