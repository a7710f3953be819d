"""Per-page layer probe: the Python-heavy per-page functions, timed in one
process without Spark.

Over a sample of a workload's pages it times ``html_extract.parse_html``,
``sources.qa.parse_qa_page`` and ``operators.flows.extract_page_flow_nodes``
one page at a time, then the Arrow encode and decode of the resulting
flow-node batch (the hand-off ``mapInPandas`` pays per batch).  Each
timing is the median of ``passes`` passes over the sample.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa


def _median_pass(passes: int, fn) -> float:
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_pages(urls: list[str], htmls: list[str], passes: int = 3) -> dict[str, float]:
    from pyspark.sql.pandas.types import to_arrow_schema

    from graph4code_spark.html_extract import parse_html
    from graph4code_spark.operators.flows import build_flow_catalog, extract_page_flow_nodes
    from graph4code_spark.schemas import ANALYSIS_NODES_SCHEMA
    from graph4code_spark.sources.qa import parse_qa_page
    from graph4code_spark.synth import FIXED_CATALOG

    n = len(htmls)
    pages = [parse_qa_page(u, h) for u, h in zip(urls, htmls)]
    codes = [(p["url"], p["codes"]) for p in pages if p is not None]
    snippets = [c for _, cs in codes for c in cs]
    catalog = build_flow_catalog(FIXED_CATALOG)
    rows: list[dict] = []
    failed = 0
    for url, cs in codes:
        try:
            rows.extend(extract_page_flow_nodes(url, cs, catalog))
        except Exception:  # noqa: BLE001 -- counted, as the pipeline's fault barrier does
            failed += 1

    def flows() -> None:
        for url, cs in codes:
            try:
                extract_page_flow_nodes(url, cs, catalog)
            except Exception:  # noqa: BLE001 -- counted above
                pass

    import pandas as pd

    schema = to_arrow_schema(ANALYSIS_NODES_SCHEMA)
    cols = [f.name for f in ANALYSIS_NODES_SCHEMA.fields]

    def encode() -> bytes:
        batch = pa.RecordBatch.from_pandas(
            pd.DataFrame(rows, columns=cols), schema=schema, preserve_index=False
        )
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, schema) as writer:
            writer.write_batch(batch)
        return sink.getvalue()

    encoded = encode()
    ms = 1e3
    flows_s = _median_pass(passes, flows)
    return {
        "probe.html.ms_per_page": _median_pass(passes, lambda: [parse_html(h) for h in htmls]) * ms / n,
        "probe.qa.ms_per_page": _median_pass(
            passes, lambda: [parse_qa_page(u, h) for u, h in zip(urls, htmls)]
        ) * ms / n,
        "probe.flows.ms_per_page": flows_s * ms / n,
        "probe.flows.ms_per_snippet": flows_s * ms / max(1, len(snippets)),
        "probe.arrow.encode_ms_per_page": _median_pass(passes, encode) * ms / n,
        "probe.arrow.decode_ms_per_page": _median_pass(
            passes, lambda: pa.ipc.open_stream(encoded).read_all().to_pandas()
        ) * ms / n,
        "probe.flows.pages_failed": failed,
        "probe.flows.distinct_snippet_ratio": len(set(snippets)) / max(1, len(snippets)),
    }
