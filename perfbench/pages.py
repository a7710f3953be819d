"""Input generator for the spine benchmark.

``write_pages`` writes the pages table one workload runs over.  The
standard corpus is ``synth_pages(n, seed)`` unchanged, built in the
benchmark's process so that no Spark job runs before the timed call.  The unique-snippet
corpus is the same pages with every locally bound name in each multi-line
code block renamed per page (``df`` -> ``df_kqzvxa``), so that almost no
snippet repeats across pages while library call paths such as
``pandas.read_csv``, attribute names, keyword names, string literals and
the prose around the code stay byte-for-byte as they were.  The ``text``
column is re-derived with the program's canonical extractor, so the
pages keep the invariant ``text == extract_text(html)``.
"""

from __future__ import annotations

import builtins
import hashlib
import keyword
import os
import re

import pandas as pd

_CODE_BLOCK = re.compile(r"(<code>)(.*?)(</code>)", re.S)
_NAME = r"[A-Za-z_]\w*"
_NAMES = rf"{_NAME}(?:\s*,\s*{_NAME})*"
_PROMPT = r"^\s*(?:(?:>>>|\.\.\.)\s?)?\s*"
_BINDERS = [
    # a = ..., a, b = ..., a += ..., a: T = ...
    re.compile(_PROMPT + rf"\(?({_NAMES})\)?\s*(?::[^=\n]+)?(?:[-+*/%&|^@]|//|\*\*)?=(?!=)", re.M),
    re.compile(rf"\bfor\s+\(?({_NAMES})\)?\s+in\b"),
    # top-level only: an indented def is usually a method, called as an attribute
    re.compile(rf"^(?:(?:>>>|\.\.\.)\s?)?(?:def|class)\s+({_NAME})", re.M),
    re.compile(rf"\bas\s+({_NAME})"),
]
_DEF_PARAMS = re.compile(_PROMPT + rf"def\s+{_NAME}\s*\(([^)]*)\)", re.M)
_IMPORT_LINE = re.compile(_PROMPT + r"(?:import|from)\s[^\n]*", re.M)
# string literals and comments are skipped; identifiers are the candidates
_LEXEME = re.compile(
    r"'''.*?'''|\"\"\".*?\"\"\"|'(?:\\.|[^'\\\n])*'|\"(?:\\.|[^\"\\\n])*\"|#[^\n]*"
    rf"|(?P<name>{_NAME})|(?P<open>[(\[{{])|(?P<close>[)\]}}])",
    re.S,
)
_RESERVED = frozenset(keyword.kwlist) | frozenset(keyword.softkwlist) | frozenset(dir(builtins))


def _bound_names(code: str) -> set[str]:
    """Names a snippet binds locally; import-bound names are library
    handles and are left out."""
    names: set[str] = set()
    for pat in _BINDERS:
        for m in pat.finditer(_IMPORT_LINE.sub("", code)):
            names.update(n.strip() for n in m.group(1).split(","))
    for m in _DEF_PARAMS.finditer(code):
        for param in m.group(1).split(","):
            name = re.match(rf"\s*\**({_NAME})", param)
            if name:
                names.add(name.group(1))
    imported = {
        n for line in _IMPORT_LINE.findall(code) for n in re.findall(_NAME, line)
    }
    return {n for n in names - imported - _RESERVED if not n.startswith("__")}


def rename_locals(code: str, tag: str) -> str:
    """Append ``_<tag>`` to every locally bound name in ``code``.

    Occurrences after a ``.`` (attributes) and keyword-argument names
    inside brackets are left alone, as are strings and comments."""
    bound = _bound_names(code)
    if not bound:
        return code
    out: list[str] = []
    depth = 0
    pos = 0
    for m in _LEXEME.finditer(code):
        if m.group("open"):
            depth += 1
        elif m.group("close"):
            depth = max(0, depth - 1)
        name = m.group("name")
        if name is None or name not in bound:
            continue
        before = code[: m.start()].rstrip(" \t")
        after = code[m.end():].lstrip(" \t")
        if before.endswith("."):
            continue
        if depth and after.startswith("=") and not after.startswith("=="):
            continue
        out.append(code[pos: m.end()])
        out.append("_" + tag)
        pos = m.end()
    out.append(code[pos:])
    return "".join(out)


def page_tag(seed: int, url: str) -> str:
    """Six lowercase letters from (seed, url): digits would split into
    extra analyzer tokens, letters stay one token."""
    hexd = hashlib.md5(f"{seed}|{url}".encode()).hexdigest()[:6]
    return hexd.translate(str.maketrans("0123456789", "ghijklmnop"))


def uniquify_html(html: str, tag: str) -> str:
    """Rename locals inside every multi-line ``<code>`` block of a page."""

    def sub(m: re.Match) -> str:
        body = m.group(2)
        if "\n" not in body:
            return m.group(0)
        return m.group(1) + rename_locals(body, tag) + m.group(3)

    return _CODE_BLOCK.sub(sub, html)


def uniquify_pages(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Unique-snippet variant of a pages frame (url, warc_ts, html, text, lang)."""
    from graph4code_spark.html_extract import extract_text

    out = pdf.copy()
    htmls = [
        uniquify_html(h.decode("utf-8"), page_tag(seed, u)) for u, h in zip(out["url"], out["html"])
    ]
    out["html"] = [h.encode("utf-8") for h in htmls]
    out["text"] = [extract_text(h) for h in htmls]
    return out


#: the pages table, as ``synth_pages`` produces it
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def synth_pages_pdf(n_pages: int, seed: int) -> pd.DataFrame:
    """``graph4code_spark.synth.synth_pages(spark, n_pages, seed)``, built
    in this process: the same rows, without a Spark job."""
    from graph4code_spark.html_extract import extract_text
    from graph4code_spark.synth import (
        FIXED_CATALOG, HUB_ENTITY, _page_record, entity_name, entity_type,
    )

    names = sorted({entity_name(r) for r in FIXED_CATALOG})
    etypes = {entity_name(r): entity_type(r) for r in FIXED_CATALOG}
    hub = HUB_ENTITY if HUB_ENTITY in names else names[0]
    rows = []
    for pid in range(n_pages):
        rec = _page_record(pid, seed, names, hub, etypes)
        rec["text"] = extract_text(rec["html"].decode("utf-8"))
        rows.append(rec)
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def write_pages(path: str, n_pages: int, seed: int, unique: bool) -> pd.DataFrame:
    """Write the workload's pages to ``path`` as parquet, one file per
    partition ``synth_pages`` would use, and return them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = synth_pages_pdf(n_pages, seed)
    if unique:
        pdf = uniquify_pages(pdf, seed)
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    parts = max(1, min(n_pages // 250, 256))
    os.makedirs(path, exist_ok=True)
    for i in range(parts):
        chunk = pdf.iloc[i * n_pages // parts:(i + 1) * n_pages // parts]
        table = pa.Table.from_pandas(chunk, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"), compression="zstd")
    return pdf
