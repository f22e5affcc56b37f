"""Reference extraction from article wikitext.

Reimplements the observable behavior of the reference's
``extract_references`` (behavior spec:
reference:tests/test_article_extract_references.py:1-58, consumed-field
inventory reference:build_db.py:332-435, per-domain config
reference:wikis.yaml:1-49 via reference:wiki_config.py:12-33):

- inline ``<ref ...>...</ref>`` / self-closing ``<ref name=x />`` are
  captured with name + exact offsets (reference_type=1 "inline")
- list items in reference sections ("External links", "References", ...)
  are captured whole (reference_type=2 "endnote")
- list items in other sections are captured only if they contain a URL
- standalone citation/footnote templates ({{Cite ...}}, {{Sfn|...}})
  are captured (reference_type=0 "other")
- bare URLs in running text are captured standalone, but a URL inside an
  already-captured reference is NOT re-emitted (the URL-in-ref
  suppression the reference tests pin down)
- HTML comments are skipped entirely

Each result dict carries: raw_reference, offset_start, length,
reference_type, reference_name, urls (list), templates (list of
{template_name, full_text, parameters: [{key, value}]}).
"""

from __future__ import annotations

import re

from wiki_references_db_spark.functions.wikitext import (
    _REF_ATTR,
    normalize_template_name,
    parse_template,
    scan_segments,
)

# Reference types (reference:models.py:289, labels reference:api_v1.py:14)
REF_TYPE_OTHER = 0
REF_TYPE_INLINE = 1
REF_TYPE_ENDNOTE = 2

# Per-domain extraction config — same vocabulary as reference:wikis.yaml.
WIKI_CONFIG: dict[str, dict] = {
    "en.wikipedia.org": {
        "reference_sections": [
            "articles", "audiobooks", "bibliography", "books",
            "external links", "further reading", "references", "sources",
            "works cited", "discography", "see also",
        ],
        "citation_templates": {"prefixes": ["cite"], "exact": ["citation"]},
    },
    "it.wikipedia.org": {
        "reference_sections": [
            "note", "bibliografia", "fonti", "collegamenti esterni",
            "opere", "discografia", "pagine correlate", "voci correlate",
        ],
        "citation_templates": {"prefixes": ["cita", "cite"], "exact": ["citazione"]},
    },
    "af.wikipedia.org": {
        "reference_sections": [
            "verwysing", "verwysings", "bibliografie", "eksterne skakel",
            "eksterne skakels", "bronne", "bron", "notas",
            "notas en verwysings",
        ],
        "citation_templates": {"prefixes": ["cite"], "exact": ["verwysing"]},
    },
}
_DEFAULT_DOMAIN = "en.wikipedia.org"

# Footnote-template family captured standalone in addition to the
# citation templates (behavior pinned by the {{Sfn|...}} test case).
FOOTNOTE_TEMPLATES = {"sfn", "sfnp", "sfnm", "harvnb", "harvp", "harv", "efn"}

_URL_RE = re.compile(r"(?:https?|ftp)://[^\s<>\[\]{}|\"']+", re.IGNORECASE)
_TRAILING_PUNCT = ".,;:!?)"
_HEADING_RE = re.compile(r"^\s*(={2,6})\s*(.*?)\s*\1\s*$")
_LIST_ITEM_RE = re.compile(r"^[*#:;]+\s*\S")


def get_domain_config(domain: str | None) -> dict:
    return WIKI_CONFIG.get(domain or _DEFAULT_DOMAIN, WIKI_CONFIG[_DEFAULT_DOMAIN])


def _is_citation_template(name: str, config: dict) -> bool:
    n = name.strip().lower()
    ct = config["citation_templates"]
    if n in (e.lower() for e in ct.get("exact", [])):
        return True
    if n in FOOTNOTE_TEMPLATES:
        return True
    return any(n.startswith(p.lower()) for p in ct.get("prefixes", []))


def _trim_url(url: str) -> str:
    return url.rstrip(_TRAILING_PUNCT)


def _find_urls(raw: str) -> list[str]:
    """URLs inside a captured reference, deduplicated, in order; comment
    spans within the raw text are ignored."""
    spans = [
        (s, e) for kind, s, e in scan_segments(raw) if kind in ("comment", "nowiki")
    ]
    urls: list[str] = []
    seen = set()
    for m in _URL_RE.finditer(raw):
        if any(s <= m.start() < e for s, e in spans):
            continue
        u = _trim_url(m.group(0))
        if u and u not in seen:
            seen.add(u)
            urls.append(u)
    return urls


def _find_templates(raw: str) -> list[dict]:
    """Top-level templates inside a captured reference (recursing into
    <ref> bodies and external-link labels, but not into template values:
    nested templates belong to their parent's parameter payload)."""
    results: list[dict] = []

    def walk(s: str, base: int) -> None:
        for kind, start, end in scan_segments(s):
            src = s[start:end]
            if kind == "template":
                raw_name, params = parse_template(src)
                name = raw_name.strip()
                if not name:
                    continue
                parameters = []
                pos_idx = 0
                for key, value in params:
                    if key is None:
                        pos_idx += 1
                        parameters.append(
                            {"key": str(pos_idx), "value": value.strip()}
                        )
                    else:
                        parameters.append(
                            {"key": key.strip(), "value": value.strip()}
                        )
                results.append(
                    {
                        "template_name": name,
                        "full_text": src,
                        "parameters": parameters,
                    }
                )
            elif kind == "ref":
                gt = src.find(">")
                walk(src[gt + 1 : -len("</ref>")], base + start + gt + 1)
            elif kind == "extlink":
                walk(src[1:-1], base + start + 1)

    walk(raw, 0)
    return results


def _ref_name(tag_src: str) -> str | None:
    for name, _, dq, sq, bare in _REF_ATTR.findall(tag_src):
        if name.lower() == "name":
            return dq or sq or bare
    return None


def _make_ref(
    text: str, start: int, end: int, ref_type: int, name: str | None = None
) -> dict:
    raw = text[start:end]
    return {
        "raw_reference": raw,
        "offset_start": start,
        "length": end - start,
        "reference_type": ref_type,
        "reference_name": name,
        "urls": _find_urls(raw),
        "templates": _find_templates(raw),
    }


def extract_references(
    wikitext: str,
    include_offsets: bool = True,
    domain: str | None = None,
) -> list[dict]:
    """Extract all citation-ish references from article wikitext.

    Spark surface: wrapped as a pandas UDF returning
    ``array<struct>`` + ``explode`` (see plans/stage.py).
    """
    if not wikitext:
        return []
    config = get_domain_config(domain)
    ref_sections = {s.lower() for s in config["reference_sections"]}

    segments = scan_segments(wikitext)
    results: list[dict] = []
    consumed: list[tuple[int, int]] = []  # spans already captured / skipped

    def in_consumed(pos: int) -> bool:
        return any(s <= pos < e for s, e in consumed)

    def overlaps_consumed(s0: int, e0: int) -> bool:
        return any(s < e0 and s0 < e for s, e in consumed)

    # Pass 1: <ref> tags (always captured) + comments/nowiki (skipped).
    for kind, start, end in segments:
        if kind in ("ref", "selfref"):
            src = wikitext[start:end]
            gt = src.find(">")
            results.append(
                _make_ref(
                    wikitext, start, end, REF_TYPE_INLINE, _ref_name(src[: gt + 1])
                )
            )
            consumed.append((start, end))
        elif kind in ("comment", "nowiki"):
            consumed.append((start, end))

    # Pass 2: line structure — section tracking + list items.
    current_section = ""
    pos = 0
    n = len(wikitext)
    while pos <= n:
        nl = wikitext.find("\n", pos)
        line_end = nl if nl != -1 else n
        line = wikitext[pos:line_end]
        if not overlaps_consumed(pos, line_end):
            m = _HEADING_RE.match(line)
            if m:
                current_section = m.group(2).strip().lower()
            elif _LIST_ITEM_RE.match(line):
                is_ref_section = current_section in ref_sections
                has_url = bool(_URL_RE.search(line))
                if is_ref_section or has_url:
                    ref_type = REF_TYPE_ENDNOTE if is_ref_section else REF_TYPE_OTHER
                    results.append(
                        _make_ref(wikitext, pos, line_end, ref_type)
                    )
                    consumed.append((pos, line_end))
        if nl == -1:
            break
        pos = nl + 1

    # Pass 3: standalone citation/footnote templates outside captured spans.
    for kind, start, end in segments:
        if kind != "template" or overlaps_consumed(start, end):
            continue
        raw_name, _ = parse_template(wikitext[start:end])
        name = normalize_template_name(raw_name)
        if _is_citation_template(name, config):
            results.append(_make_ref(wikitext, start, end, REF_TYPE_OTHER))
            consumed.append((start, end))

    # Pass 4: bare URLs in the remaining text.
    for kind, start, end in segments:
        if kind != "text":
            continue
        for m in _URL_RE.finditer(wikitext, start, end):
            if overlaps_consumed(m.start(), m.end()):
                continue
            u = _trim_url(m.group(0))
            if not u:
                continue
            u_end = m.start() + len(u)
            results.append(_make_ref(wikitext, m.start(), u_end, REF_TYPE_OTHER))
            consumed.append((m.start(), u_end))

    results.sort(key=lambda r: r["offset_start"])
    if not include_offsets:
        for r in results:
            r.pop("offset_start", None)
            r.pop("length", None)
    return results
