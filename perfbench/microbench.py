"""Single-threaded microbenchmarks of the per-URL Python functions the crawl
runs inside its Spark stages, on a fixed seeded sample."""

from __future__ import annotations

import statistics
import time


def _per_item_us(fn, items, min_s: float = 0.2, reps: int = 5) -> float:
    """Median over ``reps`` of the time per item, each rep looping over the
    sample until it has run at least ``min_s``."""
    out = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            for x in items:
                fn(x)
            n += len(items)
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out.append(dt * 1e6 / n)
    return statistics.median(out)


def run(seed: int) -> dict[str, float]:
    from croawl_spark import synth
    from croawl_spark.functions.extract import extract_all
    from croawl_spark.functions.urls import canonicalize_url

    raw = [synth.target_url(f"micro-{seed}-{i}", i % 6) for i in range(400)]
    canon = [c for c in map(canonicalize_url, raw) if c]
    pages = [p for p in map(synth.gen_page, canon) if p["status"] == 200]
    spans = [p["spans"] for p in pages][:200]
    return {
        "extract.us_per_page": _per_item_us(extract_all, spans),
        "synth.gen_page_us": _per_item_us(synth.gen_page, canon[:200]),
        "urls.canon_us_per_url": _per_item_us(canonicalize_url, raw),
    }
