"""In-process layer pass: time the public pure-Python layer functions
on a workload's own generated inputs, in the driver process, without
Spark. Each figure is the layer's self time per item;
``extract.extract_us_per_doc`` excludes the parse it runs internally
(``parse.parse_us_per_doc`` is measured on the same documents). The
one count that needs Spark, the phash near-pairs of the curation
input, runs the public operator on the session.
"""

from __future__ import annotations

import random
import time

SAMPLE = 300


def _sample(items: list, seed: int, k: int = SAMPLE) -> list:
    items = list(items)
    if len(items) <= k:
        return items
    return random.Random(seed).sample(items, k)


class _Counted:
    """Wraps ``encoding.chardet_encoding`` to count calls and time."""

    def __init__(self, fn):
        self.fn = fn
        self.calls = 0
        self.seconds = 0.0

    def __call__(self, data):
        t = time.perf_counter()
        try:
            return self.fn(data)
        finally:
            self.seconds += time.perf_counter() - t
            self.calls += 1


def crawl_layers(world, seeds, scheduled_urls, seed: int) -> dict:
    from bisque_spark.functions import encoding
    from bisque_spark.functions.urlnorm import canonicalize_url
    from bisque_spark.operators.extract import extract_page
    from bisque_spark.parse import parse_nodes
    from bisque_spark.synth import page_bytes, synth_image

    urls = _sample(scheduled_urls, seed)
    fetched = []
    t = time.perf_counter()
    for u in urls:
        fetched.append((u, page_bytes(world, u)))
    fetch_s = time.perf_counter() - t
    pages = [(u, c) for u, (status, c) in fetched if status == 200 and c]

    counted = _Counted(encoding.chardet_encoding)
    encoding.chardet_encoding = counted
    decoded = []
    try:
        t = time.perf_counter()
        for u, content in pages:
            text, enc, _ = encoding.decode_html(bytes(content))
            if text is not None:
                decoded.append((u, text, enc))
        decode_s = time.perf_counter() - t
    finally:
        encoding.chardet_encoding = counted.fn

    nodes = 0
    t = time.perf_counter()
    for _u, text, enc in decoded:
        nodes += len(parse_nodes(text, original_encoding=enc))
    parse_s = time.perf_counter() - t

    links, image_ids = [], []
    t = time.perf_counter()
    for u, text, enc in decoded:
        res = extract_page(text, u, original_encoding=enc)
        links.extend(res["links"])
        image_ids.extend(i["image_id"] for i in res["images"])
    extract_s = time.perf_counter() - t

    raw = [r for r, _rank in seeds] + links
    raw = _sample(raw, seed, 2000)
    t = time.perf_counter()
    for r in raw:
        canonicalize_url(r)
    canon_s = time.perf_counter() - t

    imgs = _sample(image_ids, seed)
    t = time.perf_counter()
    for i in imgs:
        synth_image(i)
    image_s = time.perf_counter() - t

    nd = max(1, len(decoded))
    return {
        "synth.page_bytes_us": 1e6 * fetch_s / max(1, len(urls)),
        "synth.synth_image_us": 1e6 * image_s / max(1, len(imgs)),
        "encoding.decode_us_per_doc": 1e6 * decode_s / max(1, len(pages)),
        "encoding.chardet_calls": float(counted.calls),
        "encoding.chardet_us": 1e6 * counted.seconds / max(1, counted.calls),
        "parse.parse_us_per_doc": 1e6 * parse_s / nd,
        "parse.nodes_per_doc": nodes / nd,
        "extract.extract_us_per_doc": 1e6 * max(0.0, extract_s - parse_s) / nd,
        "extract.links_per_page": len(links) / nd,
        "extract.images_per_page": len(image_ids) / nd,
        "urlnorm.canonicalize_us_per_url": 1e6 * canon_s / max(1, len(raw)),
    }


def curate_layers(spark, images_pdf, images_df, seed: int) -> dict:
    from bisque_spark.operators.multimodal import (
        make_image_signals_batches,
        phash_near_pairs,
    )
    from bisque_spark.synth import synth_image

    rows = images_pdf.iloc[
        sorted(_sample(range(len(images_pdf)), seed))
    ].reset_index(drop=True)
    run = make_image_signals_batches()
    t = time.perf_counter()
    n = sum(len(out) for out in run(iter([rows[["image_id", "bytes", "w", "h", "fmt"]]])))
    signals_s = time.perf_counter() - t

    t = time.perf_counter()
    for i in rows["image_id"]:
        synth_image(i)
    image_s = time.perf_counter() - t

    phash_pairs = phash_near_pairs(
        images_df.select("image_id", "phash"), max_hamming=4
    ).count()
    return {
        "multimodal.signals_us_per_image": 1e6 * signals_s / max(1, n),
        "synth.synth_image_us": 1e6 * image_s / max(1, len(rows)),
        "dedup.phash_pairs": float(phash_pairs),
    }
