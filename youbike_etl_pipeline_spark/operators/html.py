"""HTML → text extraction for crawl ingestion (the step every Common
Crawl training-data pipeline runs immediately after WARC payload
recovery — the operator family Gopher/CCNet/trafilatura occupy, built
from scratch on public HTML semantics):

- comment / DOCTYPE / ``<script>`` / ``<style>`` / ``<head>`` removal
  (case-insensitive, content never leaks into the extracted text),
- ``<title>`` extraction,
- ``href`` link collection (single- or double-quoted),
- block-level elements become line breaks, inline elements disappear,
- character-reference decoding (named core set + decimal/hex numeric),
- deterministic whitespace normalization (collapse horizontal runs,
  strip line edges, collapse blank lines) — the SAME chain the DuckDB
  oracle applies to the expected text, so extraction is cross-engine
  checkable without an HTML parser on the SQL side.

The fixture side (:func:`build_fixture_html`) renders a document's own
text into one of four EXTRACTION-INVARIANT markup variants (lowercase,
uppercase+attributes, headless, entity/comment noise) — the mm25
"RGB-preserving variant matrix" discipline applied to markup, so one
oracle grades every shape.

Reference parity: the reference repo (kevinlin000/YouBike-ETL-Pipeline)
has no crawl ingestion at all — this family extends the engine toward
the 100 TB training-data north star (SURVEY.md §2 ext rows).
"""

from __future__ import annotations

import re

__all__ = [
    "build_boilerplate_html",
    "build_fixture_html",
    "decode_entities",
    "escape_html",
    "expected_main_text",
    "extract_html_text",
    "extract_main_text",
    "normalize_text_ws",
]

# Elements whose open OR close tag breaks the text flow (HTML5 block /
# sectioning / table / paragraph content categories, plus <br>).
_BLOCK = (
    "address|article|aside|blockquote|body|br|caption|dd|details|dialog|div|"
    "dl|dt|fieldset|figcaption|figure|footer|form|h[1-6]|header|hgroup|hr|"
    "html|li|main|nav|ol|p|pre|section|summary|table|tbody|td|tfoot|th|"
    "thead|tr|ul"
)

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_DOCTYPE_RE = re.compile(r"<!DOCTYPE[^>]*>", re.I)
_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I
)
_HEAD_RE = re.compile(r"<head\b[^>]*>.*?</head\s*>", re.S | re.I)
_TITLE_RE = re.compile(r"<title\b[^>]*>(.*?)</title\s*>", re.S | re.I)
_BODY_RE = re.compile(r"<body\b[^>]*>(.*?)(</body\s*>|$)", re.S | re.I)
_HREF_RE = re.compile(
    r"""<a\b[^>]*?\bhref\s*=\s*(?:"([^"]*)"|'([^']*)')""", re.S | re.I
)
_BLOCK_TAG_RE = re.compile(rf"</?(?:{_BLOCK})\b[^>]*>", re.I)
_ANY_TAG_RE = re.compile(r"<[^>]+>")
_NUM_HEX_RE = re.compile(r"&#[xX]([0-9a-fA-F]{1,6});")
_NUM_DEC_RE = re.compile(r"&#([0-9]{1,7});")

# decode order matters: numeric first, ``&amp;`` strictly LAST, so the
# escaped text "&amp;lt;" decodes to the literal "&lt;" it renders as
_NAMED = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def escape_html(s: str) -> str:
    """Minimal text-node escaping (``&`` first — the exact inverse of
    :func:`decode_entities` for arbitrary input text)."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def decode_entities(s: str) -> str:
    s = _NUM_HEX_RE.sub(lambda m: chr(int(m.group(1), 16)), s)
    s = _NUM_DEC_RE.sub(lambda m: chr(int(m.group(1))), s)
    for ent, ch in _NAMED:
        s = s.replace(ent, ch)
    return s


def normalize_text_ws(s: str) -> str:
    """The shared whitespace chain (identical RE2-safe patterns run in
    the DuckDB oracle): collapse horizontal whitespace runs to one
    space, strip spaces around line breaks, collapse blank lines, trim
    the ends."""
    s = re.sub(r"[ \t\r\f\v]+", " ", s)
    s = re.sub(r" *\n *", "\n", s)
    s = re.sub(r"\n+", "\n", s)
    return s.strip(" \n")


def extract_html_text(html: str) -> dict:
    """Extract ``{"title", "text", "links"}`` from an HTML document.

    Order is load-bearing: comments/script/style/head are removed BEFORE
    tag stripping (their contents must never leak), block tags become
    newlines BEFORE the generic tag strip (inline elements glue their
    surroundings, block elements separate lines), and entities decode
    LAST so decoded ``<``/``>`` in the text can't be mistaken for
    markup."""
    s = _COMMENT_RE.sub(" ", html)
    s = _DOCTYPE_RE.sub(" ", s)
    s = _SCRIPT_STYLE_RE.sub(" ", s)
    m = _TITLE_RE.search(s)
    title = normalize_text_ws(decode_entities(m.group(1))) if m else ""
    s = _HEAD_RE.sub(" ", s)
    s = _TITLE_RE.sub(" ", s)  # headless documents: title text never leaks
    links: list[str] = []
    mb = _BODY_RE.search(s)
    region = mb.group(1) if mb else s
    for dq, sq in _HREF_RE.findall(region):
        links.append(dq if dq else sq)
    region = _BLOCK_TAG_RE.sub("\n", region)
    region = _ANY_TAG_RE.sub("", region)
    text = normalize_text_ws(decode_entities(region))
    return {"title": title, "text": text, "links": links}


# ------------------------------------------------- boilerplate removal

_A_FULL_RE = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.S | re.I)


def extract_main_text(html: str) -> dict:
    """Main-content detection by block-level LINK DENSITY — the
    trafilatura/jusText family's core signal, built from scratch on the
    published idea: navigation, footers, sidebars, cookie banners and
    pagination are link-dominated, article text is not.

    The document preprocesses exactly like :func:`extract_html_text`
    (comments/script/style/head removal), then the body region splits
    into BLOCKS at block-tag boundaries. Per block, ``text`` is the
    normalized extracted text and ``link_chars`` the extracted length
    inside ``<a>`` elements; a block is BOILERPLATE when
    ``3 * link_chars > len(text)`` (density > 1/3 — integer arithmetic,
    no float threshold to drift cross-engine). Returns ``{"text": kept
    blocks joined by newlines, "n_blocks": non-empty blocks,
    "n_dropped": boilerplate blocks}``."""
    s = _COMMENT_RE.sub(" ", html)
    s = _DOCTYPE_RE.sub(" ", s)
    s = _SCRIPT_STYLE_RE.sub(" ", s)
    s = _HEAD_RE.sub(" ", s)
    s = _TITLE_RE.sub(" ", s)
    mb = _BODY_RE.search(s)
    region = mb.group(1) if mb else s
    kept: list[str] = []
    n_blocks = 0
    n_dropped = 0
    for piece in _BLOCK_TAG_RE.split(region):
        btext = normalize_text_ws(decode_entities(_ANY_TAG_RE.sub("", piece)))
        if not btext:
            continue
        n_blocks += 1
        link_chars = 0
        for inner in _A_FULL_RE.findall(piece):
            link_chars += len(
                normalize_text_ws(decode_entities(_ANY_TAG_RE.sub("", inner)))
            )
        if 3 * link_chars > len(btext):
            n_dropped += 1
            continue
        kept.append(btext)
    return {
        "text": "\n".join(kept),
        "n_blocks": n_blocks,
        "n_dropped": n_dropped,
    }


def expected_main_text(doc_id: int, text: str) -> str:
    """What :func:`extract_main_text` must keep for
    :func:`build_boilerplate_html` — the three content blocks assembled
    from the RAW text exactly the way the DuckDB oracle assembles them
    (heading line, text, archive-sentence line, then the shared
    normalization chain). Noise never appears here: the expected kept
    text is NOISE-VARIANT-INVARIANT, so one oracle grades every
    rotation."""
    return normalize_text_ws(
        f"Doc {doc_id} article\n{text}\n"
        "See the archive for earlier reporting and context."
    )


#: dropped-block count per noise variant ``(doc_id // 10) % 4`` —
#: mirrored as CASE constants in the mm35 oracle
BOILERPLATE_DROPPED = (2, 4, 2, 3)


def build_boilerplate_html(doc_id: int, text: str) -> str:
    """Render a document's text wrapped in one of four rotating
    LINK-DENSE noise shapes (``(doc_id // 10) % 4``) around the SAME
    three content blocks — the extraction-invariant discipline applied
    to boilerplate: the kept text never varies, only the noise does.

    Content (always): an ``<h1>`` heading, the article ``<p>``, and a
    mixed paragraph containing ONE short link inside long text (its
    density is below the threshold — pinning that the rule measures
    density, not link presence). Noise: v0 nav bar + footer; v1 a
    four-item link sidebar (each ``<li>`` is its own block); v2 a
    cookie banner + breadcrumb trail; v3 nav + footer + pagination."""
    esc = escape_html(text)
    head = (
        "<!DOCTYPE html>\n<html>\n<head>\n"
        f"<title>Doc {doc_id} article</title>\n"
        "<style>nav { display: flex; }</style>\n"
        "</head>\n<body>\n"
    )
    content = (
        f"<h1>Doc {doc_id} article</h1>\n"
        f"<p>{esc}</p>\n"
        '<p>See the <a href="/archive">archive</a> for earlier reporting'
        " and context.</p>\n"
    )
    nav = (
        '<nav><a href="/">Home</a> <a href="/about">About</a> '
        '<a href="/contact">Contact</a></nav>\n'
    )
    footer = (
        '<footer><a href="/privacy">Privacy</a> | '
        '<a href="/terms">Terms</a></footer>\n'
    )
    v = (doc_id // 10) % 4
    if v == 0:
        body = nav + content + footer
    elif v == 1:
        sidebar = (
            "<ul>\n"
            '<li><a href="/news">Latest news</a></li>\n'
            '<li><a href="/2024">Archive 2024</a></li>\n'
            '<li><a href="/about">About the site</a></li>\n'
            '<li><a href="/contact">Contact the editors</a></li>\n'
            "</ul>\n"
        )
        body = sidebar + content
    elif v == 2:
        cookie = (
            '<div>We use cookies. <a href="#accept">Accept all cookies'
            "</a></div>\n"
        )
        crumbs = (
            '<div><a href="/">Home</a> / <a href="/news">News</a> '
            "/ article</div>\n"
        )
        body = cookie + crumbs + content
    else:
        pages = (
            '<div><a href="?p=1">1</a> <a href="?p=2">2</a> '
            '<a href="?p=3">3</a></div>\n'
        )
        body = nav + content + pages + footer
    return head + body + "</body>\n</html>\n"


# ------------------------------------------------------------- fixture


def expected_extraction(doc_id: int, text: str) -> dict:
    """What :func:`extract_html_text` must produce for
    :func:`build_fixture_html` — assembled from the RAW text exactly the
    way the DuckDB oracle assembles it (title line, text, link line,
    footer line, then the shared normalization chain)."""
    title = f"Doc {doc_id} & friends"
    raw = f"{title}\n{text}\nprev next\nfooter <tag> zone A"
    return {
        "title": title,
        "text": normalize_text_ws(raw),
        "links": [
            f"http://example.com/doc/{doc_id - 10}",
            f"http://example.com/doc/{doc_id + 10}",
        ],
    }


def build_fixture_html(doc_id: int, text: str) -> str:
    """Render a document into one of four extraction-invariant markup
    shapes (rotated ``(doc_id // 10) % 4`` — the fixture's doc ids step
    by 10, so every variant appears): canonical lowercase; uppercase
    tags with attributes and a self-closing ``<BR/>``; a headless
    document (no ``<body>``, single-quoted attributes, a script whose
    string content contains a fake close tag); entity/comment noise
    with the footer's ``A`` written as a decimal character reference.
    All four must extract to :func:`expected_extraction`."""
    esc = escape_html(text)
    v = (doc_id // 10) % 4
    t = f"Doc {doc_id} &amp; friends"
    prev = f"http://example.com/doc/{doc_id - 10}"
    nxt = f"http://example.com/doc/{doc_id + 10}"
    if v == 0:
        return (
            "<!DOCTYPE html>\n<html>\n<head>\n"
            f"<title>{t}</title>\n"
            '<style>body { color: #333; } p::before { content: "<fake>"; }</style>\n'
            '<script>var p = "<p>not body text</p>";</script>\n'
            "</head>\n<body>\n"
            "<!-- navigation comment with <p>fake</p> markup -->\n"
            f"<h1>{t}</h1>\n"
            f"<p>{esc}</p>\n"
            f'<p><a href="{prev}">prev</a> <a href="{nxt}">next</a></p>\n'
            "<div>footer &lt;tag&gt; zone A</div>\n"
            "</body>\n</html>\n"
        )
    if v == 1:
        return (
            "<HTML>\n<HEAD>\n"
            f"<TITLE>{t}</TITLE>\n"
            "<STYLE TYPE=\"text/css\">H1 { font: 12px } /* <div> in css */</STYLE>\n"
            "</HEAD>\n<BODY CLASS=\"main\" data-x=\"1\">\n"
            f'<H1 id="t">{t}</H1>\n'
            f'<P class="lead">{esc}</P>\n'
            f'<P><A HREF="{prev}" rel="prev">prev</A> <A HREF="{nxt}">next</A></P>\n'
            "<DIV>footer &lt;tag&gt; zone A<BR/></DIV>\n"
            "</BODY>\n</HTML>\n"
        )
    if v == 2:
        return (
            "<html><head><title>" + t + "</title>\n"
            "<SCRIPT type='text/javascript'>\n"
            "let s = '</div>'; // fake close tag inside a string\n"
            "</SCRIPT></head>\n"
            f"<h1>{t}</h1>\n"
            f"<p>{esc}</p>\n"
            f"<p><a href='{prev}'>prev</a> <a href='{nxt}'>next</a></p>\n"
            "<div>footer &lt;tag&gt; zone A</div>\n"
            "</html>\n"
        )
    return (
        "<!DOCTYPE html>\n<html>\t\n<head>\n"
        "<!-- head comment -->\n"
        f"<title>\n  {t}\n</title>\n"
        "<script>\nif (1 < 2) { document.write(\"<div>noise</div>\"); }\n</script>\n"
        "</head>\n<body>\n\n\n"
        "<!-- multi\nline\ncomment with <h1>fake heading</h1> -->\n"
        f"<h1>  {t}  </h1>\n"
        f"<p>\t{esc}\t</p>\n"
        f'<p><a class="n" href="{prev}">prev</a>\t<a href="{nxt}">next</a></p>\n'
        "<!-- trailing comment -->\n"
        "<div>footer &lt;tag&gt; zone &#65;</div>\n"
        "</body>\n</html>\n"
    )
