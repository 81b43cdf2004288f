"""Driver-side kernel probes: single-threaded µs per call of the kernels the
crawl's fetch and extraction stages run, on a seeded sample of the pages
the ``crawl_polite`` crawl fetches."""

from __future__ import annotations

import random
import statistics
import time

SAMPLE_PAGES = 300
REPEATS = 3


def _us_per_call(fn, args_list: list[tuple]) -> float:
    """Median over REPEATS of the mean µs per call across ``args_list``."""
    runs = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        for args in args_list:
            fn(*args)
        runs.append((time.perf_counter() - t) / len(args_list) * 1e6)
    return statistics.median(runs)


def kernel_probes(index: list[tuple[int, int, int]], n_hosts: int, branch: int, seed: int) -> dict[str, float]:
    """``index`` lists the (host, k, host_pages) pages to sample from."""
    from searchgov_spider_spark.kernels.htmlx import extract_html_doc, extract_links
    from searchgov_spider_spark.kernels.robotstxt import robots_allowed
    from searchgov_spider_spark.kernels.textproc import decode_bytes
    from searchgov_spider_spark.kernels.urlnorm import canonicalize_url
    from searchgov_spider_spark.synth import webgen

    sample = random.Random(seed).sample(index, min(SAMPLE_PAGES, len(index)))
    build_args = [(h, k, p, n_hosts, branch, False) for h, k, p in sample]
    pages = [(webgen.build_page(*a), webgen.page_url(a[0], a[1])) for a in build_args]
    decoded = [(decode_bytes(row["html"]), url, row["lang"]) for row, url in pages]
    links = [(href,) for html, url, _ in decoded for href in extract_links(html, url)]
    robots = [(webgen.robots_text(h, n_hosts), webgen.page_url(h, k)) for h, k, _ in sample]
    return {
        "synth.build_page_us": _us_per_call(webgen.build_page, build_args),
        "kernels.decode_bytes_us": _us_per_call(decode_bytes, [(row["html"],) for row, _ in pages]),
        "kernels.extract_html_doc_us": _us_per_call(extract_html_doc, decoded),
        "kernels.canonicalize_url_us": _us_per_call(canonicalize_url, links),
        "kernels.robots_allowed_us": _us_per_call(robots_allowed, robots),
    }
