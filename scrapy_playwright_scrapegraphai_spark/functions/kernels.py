"""Pure-Python kernels with exact reference semantics.

These functions are the *single source of truth* for parity-critical
behavior: the Spark engine calls them inside Arrow-batched pandas UDFs /
``mapInPandas`` and the single-process oracle calls them directly, so
engine output is byte-identical to oracle output by construction
(north-rule per-row invariant).

Reference citations (behavior replicated, not code copied):
- URL validity:        /root/reference/src/crawler/utils/url_utils.py:5-11
- pattern matching:    /root/reference/src/crawler/utils/url_utils.py:14-24
  (dual semantics: case-insensitive substring FIRST, then case-insensitive
  ``re.search`` — order matters because an invalid regex that is a valid
  substring must still match)
- classification:      /root/reference/src/crawler/utils/crawl_manager_utils.py:18-125
- link extraction:     /root/reference/src/crawler/spiders/frontier_spider.py:186-212
  (all ``<a href>`` in document order, ``urljoin`` against the page URL,
  falsy hrefs dropped; anchors inside Bootstrap modals appended *again*
  after the main pass — the reference re-collects ``.modal.show a`` after
  clicking each modal toggle, so modal anchors legitimately appear twice)
- main_domain:         /root/reference/src/crawler/models/frontier_model.py:53-58
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from html.parser import HTMLParser
from urllib.parse import urljoin, urlparse, urlsplit, urlunsplit

# ---------------------------------------------------------------------------
# URL predicates (url_utils.py parity)
# ---------------------------------------------------------------------------


def is_valid_url(url: str) -> bool:
    """True iff ``urlparse`` yields both a scheme and a netloc.

    Parity: url_utils.py:5-11 (bare ``except`` → False).
    """
    try:
        result = urlparse(url)
        return bool(result.scheme) and bool(result.netloc)
    except Exception:
        return False


def matches_pattern(url: str, patterns) -> bool:
    """Dual-semantics pattern match, parity with url_utils.py:14-24.

    1. empty/None pattern list → False
    2. any *string* pattern that is a case-insensitive substring → True
    3. else any pattern matching as a case-insensitive ``re.search`` → True

    Note: step 3 raises ``re.error`` on an invalid regex exactly like the
    reference; callers that need the reference's page-level abort-on-error
    behavior (crawl_manager_utils.py:54-71) must catch it themselves —
    ``classify_links`` below does.
    """
    if not patterns:
        return False
    url_lower = url.lower()
    if any(
        pattern.lower() in url_lower
        for pattern in patterns
        if isinstance(pattern, str)
    ):
        return True
    return any(re.search(pattern, url, re.IGNORECASE) for pattern in patterns)


def main_domain(url: str) -> str:
    """``urlparse(url).netloc`` — frontier_model.py:53-58."""
    return urlparse(url).netloc


def canonicalize_url(url: str, mode: str = "exact") -> str:
    """URL canonicalization for the seen-set key.

    ``mode='exact'`` (default) is the identity — the reference's seen set
    is exact-string on the post-``urljoin`` URL (frontier_crud.py:122-139),
    so parity mode must not rewrite anything.

    ``mode='normalize'`` lowercases scheme+host, strips default ports and
    fragments, and defaults an empty path to ``/`` — the scale-mode key
    for a 10^10-URL seen set.
    """
    if mode == "exact":
        return url
    parts = urlsplit(url)
    netloc = parts.netloc.lower()
    if parts.scheme == "http" and netloc.endswith(":80"):
        netloc = netloc[: -len(":80")]
    elif parts.scheme == "https" and netloc.endswith(":443"):
        netloc = netloc[: -len(":443")]
    path = parts.path or "/"
    return urlunsplit((parts.scheme.lower(), netloc, path, parts.query, ""))


# ---------------------------------------------------------------------------
# HTML kernels (frontier_spider.py:186-212 extraction semantics)
# ---------------------------------------------------------------------------

_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol table tr td th br hr section article "
    "header footer nav aside main blockquote pre title".split()
)


class _PageParser(HTMLParser):
    """One-pass HTML parser collecting hrefs (+ modal hrefs) and text."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []
        self.modal_hrefs: list[str] = []
        self._modal_depth = 0
        self._div_is_modal: list[bool] = []
        self._suppress = 0  # inside <script>/<style>
        self.text_chunks: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style"):
            self._suppress += 1
            return
        # HTML5 keeps the FIRST of duplicate attributes (what Playwright's
        # DOM sees in the reference); dict(attrs) would keep the last
        amap: dict = {}
        for k, v in attrs:
            amap.setdefault(k, v)
        if tag == "div":
            classes = (amap.get("class") or "").split()
            is_modal = "modal" in classes
            self._div_is_modal.append(is_modal)
            if is_modal:
                self._modal_depth += 1
        elif tag == "a":
            href = amap.get("href")
            if href is not None:
                self.hrefs.append(href)
                if self._modal_depth > 0:
                    self.modal_hrefs.append(href)

    def handle_endtag(self, tag):
        if tag in ("script", "style"):
            if self._suppress:
                self._suppress -= 1
            return
        if tag == "div" and self._div_is_modal:
            if self._div_is_modal.pop():
                self._modal_depth -= 1

    def handle_data(self, data):
        if self._suppress:
            return
        chunk = data.strip()
        if chunk:
            self.text_chunks.append(chunk)


def _parse_page(html) -> _PageParser:
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    parser = _PageParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass  # salvage whatever was parsed — a broken tail must not drop a page
    return parser


# ---------------------------------------------------------------------------
# Gated fast scanner — C-level regex passes for "simple" documents
# ---------------------------------------------------------------------------
#
# ``html.parser.HTMLParser`` costs ~2.2 ms on a typical 13 KB crawl page
# (~70% of the whole per-page kernel), almost all of it Python-level
# per-token dispatch. The scanner below replaces it with whole-document
# C-level regex passes for documents it can PROVE are unambiguous, and
# falls back to the HTMLParser path (the source of truth) otherwise.
#
# Safety argument — the fast path runs only when ALL of these hold:
#   1. no '&'  → convert_charrefs is a no-op (no entities anywhere, text
#      or attribute values), so raw slices equal HTMLParser data;
#   2. no '<!', '<?'  → no comments / doctype / PIs / CDATA sections;
#   3. no '<script', '<style'  → no CDATA-content elements, so no
#      text is suppressed and no raw-text scanning mode exists
#      (uppercase variants are excluded by the grammar in 4);
#   4. the WHOLE document matches _SIMPLE_DOC: text runs without '<'/'&'
#      alternating with tags of the exact shape
#          </name>  |  <name( attr | attr="value")* /?>
#      with lowercase names and double-quoted values containing no
#      '<', '>', '"' or '&'. Under this grammar every '<' opens a tag
#      that ends at the first following '>', so `_TAG` tokenizes the
#      document exactly as HTMLParser's goahead loop does, and
#      HTMLParser's tolerant attribute regex parses each attr string to
#      the same (name, value) pairs as `_ATTR`;
#   5. no 'modal'  → no <div class="... modal ..."> can exist, so the
#      modal re-emission list is provably empty.
# Every condition is a single C-level scan. Equivalence with the
# HTMLParser path is additionally property-tested (hypothesis fuzz in
# tests/test_kernels.py) — the gate is belt, the tests are suspenders.
# NOTE: whitespace inside tags is the explicit ASCII class [ \t\n\r\f],
# NOT \s — Python's \s also matches \v and Unicode spaces, which
# HTMLParser's tokenizer treats as part of the tag/attr NAME, so a \s
# grammar would fast-path documents the slow path parses differently
# (e.g. <a\vhref="x"> is an anchor named 'a\vhref="x"' to HTMLParser).
_WS = r"[ \t\n\r\f]"
_SIMPLE_DOC = re.compile(
    r"(?:[^<&]*<(?:"
    rf"/[a-z][a-z0-9]*{_WS}*"
    rf"|[a-z][a-z0-9]*(?:{_WS}+[a-z][a-z0-9-]*(?:=\"[^\"<>&]*\")?)*{_WS}*/?"
    r")>)*[^<&]*\Z"
)
_TAG = re.compile(r"<[^>]*>")
_ANCHOR_COUNT = re.compile(r"<a[ \t\n\r\f/>]")
# href as the FIRST attribute with a non-empty value — the overwhelmingly
# common anchor shape; one findall extracts every such href
_AHREF_FIRST = re.compile(rf"<a{_WS}+href=\"([^\"]+)\"[^>]*>")
_ATTR = re.compile(r"([a-z][a-z0-9-]*)(?:=\"([^\"]*)\")?")


def _fast_parse(s: str):
    """``(hrefs, text_chunks)`` for a gate-passing document, else None.

    hrefs contains only non-empty values (HTMLParser's raw list may hold
    empty strings, but every consumer filters falsy hrefs, so the public
    kernels are byte-identical either way).
    """
    if (
        "&" in s
        or "<!" in s
        or "<?" in s
        or "<script" in s
        or "<style" in s
        or "modal" in s
        or _SIMPLE_DOC.fullmatch(s) is None
    ):
        return None
    texts = [c for c in map(str.strip, _TAG.split(s)) if c]
    hrefs = _AHREF_FIRST.findall(s)
    if len(hrefs) != len(_ANCHOR_COUNT.findall(s)):
        # uncommon anchor shapes (href not first / valueless / bare <a>):
        # exact per-anchor pass with HTML5 first-attribute-wins
        hrefs = []
        for m in _TAG.finditer(s):
            st = m.start()
            if s[st + 1] == "a" and s[st + 2] in " \t\n\r\f/>":
                body = m.group(0)
                for am in _ATTR.finditer(body, 2, len(body) - 1):
                    if am.group(1) == "href":
                        v = am.group(2)
                        if v:
                            hrefs.append(v)
                        break
    return hrefs, texts


def _parse_doc(html) -> tuple:
    """``(hrefs, modal_hrefs, text_chunks)`` — fast path when provably
    safe, HTMLParser otherwise. The single entry point for the public
    HTML kernels below."""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    r = _fast_parse(html)
    if r is not None:
        hrefs, texts = r
        return hrefs, (), texts
    p = _parse_page(html)
    return p.hrefs, p.modal_hrefs, p.text_chunks


# hrefs that urljoin may REWRITE rather than concatenate: dot path
# segments ('/.', '/..'), any params/query/fragment separator (urlparse
# drops EMPTY trailing components — '/x?' → '/x' — so all of ';?#' is
# simply excluded from the fast path), tab/CR/LF (stripped by urlsplit),
# or a trailing char ≤ 0x20 (leading/trailing C0+space stripped)
_RISKY_HREF = re.compile(r"/\.{1,2}(?=/|$)|[;?#\t\r\n]")


def _make_resolver(base_url: str):
    """Return ``resolve(href) == urljoin(base_url, href)``, fast.

    ``urljoin`` costs ~10 µs/link and dominates page parsing at ~250
    links/page. For the overwhelmingly common case — http(s) base and a
    plain absolute-path href — the RFC 3986 merge degenerates to
    ``scheme://netloc + href``, so that case is served by string concat.
    The gate is strict: any href that could trigger urljoin's dot-segment
    removal, protocol-relative handling, or urllib's C0/tab/newline
    stripping falls back to the real ``urljoin``. Exact equivalence over
    adversarial inputs is property-tested (test_kernels.py).
    """
    sp = urlsplit(base_url)
    if sp.scheme in ("http", "https") and sp.netloc:
        prefix = sp.scheme + "://" + sp.netloc
        risky = _RISKY_HREF.search

        def resolve(href: str) -> str:
            if (
                href.startswith("/")
                and not href.startswith("//")
                and href[-1] > " "
                and not risky(href)
            ):
                return prefix + href
            return urljoin(base_url, href)

        return resolve
    return lambda href: urljoin(base_url, href)


def extract_links(html, base_url: str) -> list[str]:
    """All ``<a href>`` resolved against ``base_url`` in document order,
    falsy hrefs dropped, modal anchors appended again after the main pass.

    Parity contract for frontier_spider.py:186-212 on a static corpus:
    ``page.query_selector_all('a')`` sees every anchor in the DOM
    (including those inside modal markup), and the modal-click loop then
    re-collects ``.modal.show a`` and *extends* the list — hence the
    second (duplicate) emission of modal anchors.
    """
    hrefs, modal_hrefs, _texts = _parse_doc(html)
    resolve = _make_resolver(base_url)
    links = [resolve(u) for u in hrefs if u]
    links.extend(resolve(u) for u in modal_hrefs if u)
    return links


def parse_page(html, base_url: str) -> tuple[list[str], str]:
    """One-pass fused parse: ``(links, text)``.

    Contract: ``links == extract_links(html, base_url)`` and
    ``text == extract_text(html)`` — same parse, run ONCE (the separate
    kernels each run their own document pass; the engine's hot path
    calls this instead).
    """
    hrefs, modal_hrefs, texts = _parse_doc(html)
    resolve = _make_resolver(base_url)
    links = [resolve(u) for u in hrefs if u]
    links.extend(resolve(u) for u in modal_hrefs if u)
    return links, "\n".join(texts)


def extract_text(html) -> str:
    """Deterministic visible-text extraction (north-rule per-row invariant).

    The reference stores no page text (its frontier keeps URLs only), so
    this defines the engine contract: text nodes outside <script>/<style>,
    each stripped, non-empty chunks joined with a single newline. The
    single-process oracle imports THIS function — byte parity by
    construction.
    """
    return "\n".join(_parse_doc(html)[2])


# ---------------------------------------------------------------------------
# Classification (crawl_manager_utils.py:18-125 parity)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ClassifiedLink:
    url: str
    is_target: bool
    depth: int
    item_seq: int  # position in the reference's yielded-item order


# memoized validity: pure function of the url string; link sets repeat
# heavily within a worker (same hosts' pages link to the same urls), and
# classify checks validity twice per link (target pass + seed pass).
# urllib's own parse cache holds only 20 entries — useless at this fanout.
_is_valid_url_cached = lru_cache(maxsize=1 << 16)(is_valid_url)

# memoized pattern match: pure function of (url, patterns); crawl link
# sets repeat heavily within a worker and classify matches every link
# against the same pattern tuple twice (target pass + seed pass), so
# cache hits replace a lowercase+substring scan per link. Exceptions
# (invalid regex) are NOT cached by lru_cache — they re-raise on every
# call, preserving the reference's abort-this-page-at-this-link behavior.
@lru_cache(maxsize=1 << 16)
def _matches_cached(url: str, patterns: tuple) -> bool:
    return matches_pattern(url, patterns)


def _target_links(links, target_patterns, current_depth) -> list[tuple[str, int]]:
    """crawl_manager_utils.py:88-106 — valid + matches target_patterns."""
    out = []
    pats = tuple(target_patterns)
    for link in links:
        if not _is_valid_url_cached(link):
            continue
        if _matches_cached(link, pats):
            out.append((link, current_depth))
    return out


def _seed_links(links, seed_pattern, current_depth) -> list[tuple[str, int]]:
    """crawl_manager_utils.py:108-125 — valid + matches [seed_pattern]."""
    out = []
    pats = (seed_pattern,)
    for link in links:
        if not _is_valid_url_cached(link):
            continue
        if seed_pattern and _matches_cached(link, pats):
            out.append((link, current_depth + 1))
    return out


def classify_links(
    page_url: str,
    found_links,
    url_type: int,
    target_patterns,
    seed_pattern,
    current_depth: int,
    max_depth: int,
) -> list[ClassifiedLink]:
    """Replicates ``CrawlManager.process_url`` (crawl_manager_utils.py:18-72).

    - type 0: the page URL itself is a single target item at depth 0
    - type 1: target links only (reference passes current_depth through)
    - type 2: depth <  max_depth → targets then seeds;
              depth == max_depth → targets only;
              depth >  max_depth → nothing
    - item order: all targets (link order) then all seeds (link order) —
      the reference builds ``items = target_items + seed_items``
    - any exception (e.g. invalid regex in re.search) aborts the page and
      returns the items accumulated so far (crawl_manager_utils.py:54-71)
    """
    items: list[ClassifiedLink] = []
    target_patterns = list(target_patterns or [])
    try:
        if url_type == 0:
            items.append(ClassifiedLink(page_url, True, 0, 0))
        elif url_type == 1:
            for url, depth in _target_links(found_links, target_patterns, current_depth):
                items.append(ClassifiedLink(url, True, depth, len(items)))
        elif url_type == 2:
            if current_depth < max_depth:
                targets = _target_links(found_links, target_patterns, current_depth)
                seeds = _seed_links(found_links, seed_pattern, current_depth)
                for url, depth in targets:
                    items.append(ClassifiedLink(url, True, depth, len(items)))
                for url, depth in seeds:
                    items.append(ClassifiedLink(url, False, depth, len(items)))
            elif current_depth == max_depth:
                for url, depth in _target_links(found_links, target_patterns, current_depth):
                    items.append(ClassifiedLink(url, True, depth, len(items)))
        return items
    except Exception:
        # breadth matches the reference's per-page `except Exception`
        # (crawl_manager_utils.py:54-71): ANY classification error — an
        # invalid regex, a null pattern element reaching re.search, … —
        # aborts just this page with the items accumulated so far. A
        # narrower catch would let the exception kill the whole Arrow
        # batch (and the oracle's crawl loop) instead of one page.
        return items


# ---------------------------------------------------------------------------
# Robots / politeness contract (north-rule addition; the reference disables
# robots — settings.py:49 — and throttles via DOWNLOAD_DELAY=2 + one request
# per domain, settings.py:34-35,77-78)
# ---------------------------------------------------------------------------


def robots_allows(url: str, allow_patterns, deny_patterns) -> bool:
    """Engine contract: denied iff the URL matches any deny pattern and no
    allow pattern (allow overrides deny). Pattern semantics reuse
    ``matches_pattern`` (dual substring/regex, case-insensitive)."""
    try:
        if deny_patterns and matches_pattern(url, list(deny_patterns)):
            if allow_patterns and matches_pattern(url, list(allow_patterns)):
                return True
            return False
        return True
    except re.error:
        return True  # unparseable rule → fail open, like ROBOTSTXT_OBEY=False


def host_budget(crawl_delay_s: float | None, superstep_seconds: float) -> int:
    """Per-host admission budget per superstep.

    The reference serializes each host to ~1 request / DOWNLOAD_DELAY
    seconds (settings.py:34-35,77-78; delay 2 s). A superstep models a
    wall-clock window of ``superstep_seconds``, so a host admits
    ``floor(superstep_seconds / crawl_delay)`` fetches, minimum 1.
    """
    delay = crawl_delay_s if crawl_delay_s and crawl_delay_s > 0 else 2.0
    return max(1, int(superstep_seconds // delay))
