"""The benchmark workloads.

Each workload makes its inputs from the seed, runs one timed *call*
at a time (a closed loop with one caller), checks every call's output,
and reports its end-to-end numbers. In a traced run it also derives
its per-layer numbers from the event-log fold (``ledger``) and from an
in-process pass over the pure-Python layer functions (``layers``).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa

import ledger


@dataclass
class Call:
    """One timed unit of work and its checked outcome."""

    wall_s: float
    items: float  # workload units processed (URLs, images, rows)
    attempted: int
    failed: int
    steps: list[float]  # step walls (epochs, merge runs, operator calls)
    spans: list[tuple[str, float, float]]  # (label, start_ms, end_ms)
    # leading part of the call that only warms up: counted in setup_s
    # (first call) and left out of wall_s, items and steps
    warm_s: float = 0.0
    info: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


def _now_ms() -> float:
    return time.time() * 1e3


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()[:16]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _num_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


class Workload:
    name = ""

    def __init__(self, seed: int, scale: str, work: str, digests: dict):
        self.seed = seed
        self.scale = scale
        self.work = work
        # checked-output digests from earlier runs at this seed, shared
        # across runs in the same checkout (run.py loads and saves it)
        self.digests = digests

    def sizes(self) -> dict:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Generate this seed's inputs (not timed)."""

    def warm(self, spark) -> None:
        """One tiny call so the first timed call pays no lazy start-up."""

    def call(self, spark, i: int) -> Call:
        raise NotImplementedError

    def e2e(self, calls: list[Call]) -> tuple[float, float, dict]:
        """→ (throughput_per_s, step_p50_s, named report metrics)."""
        raise NotImplementedError

    def trace(self, log: ledger.Log, calls: list[Call]) -> dict:
        return {}

    def layer_pass(self, spark) -> dict:
        return {}

    def _check_digest(self, key: str, value: str, problems: list[str]) -> None:
        sizes = json.dumps(self.sizes(), sort_keys=True)
        k = f"{self.name}|{sizes}|{self.seed}|{key}"
        prev = self.digests.setdefault(k, value)
        if prev != value:
            problems.append(f"{key} digest {value} != {prev} at seed {self.seed}")


# ---- crawls -----------------------------------------------------------------


def seed_list(world, seed: int, per_host: int) -> list[tuple[str, int]]:
    """(raw url, rank) seeds drawn from ``seed``: ``per_host`` pages of
    every host, in the adversarial canonicalization forms of
    ``synth.seed_urls`` (case, default port, fragment, dot segments,
    plain duplicates), in a seeded order. Seeding every host past its
    politeness budget keeps the URLs scheduled per epoch near the sum
    of the budgets whatever the seed, so a seed changes which pages
    are crawled, not how many."""
    rng = random.Random(seed)
    picks = []
    for hidx in range(world.n_hosts):
        host = world.host(hidx)
        for _ in range(per_host):
            picks.append((host, rng.randrange(world.host_count_pages(host))))
    rng.shuffle(picks)
    seeds = []
    for i, (host, no) in enumerate(picks):
        base = f"http://{host}/p{no}.html" if no else f"http://{host}/"
        form = rng.randint(0, 5)
        if form == 1:
            raw = base.replace("http://", "HTTP://").replace(host, host.upper())
        elif form == 2:
            raw = base.replace(host, host + ":80")
        elif form == 3:
            raw = base + "#top"
        elif form == 4:
            raw = base.replace("/p", "/./p") if no else base + "."
        else:
            raw = base
        seeds.append((raw, i))
    return seeds


class CrawlWide(Workload):
    """``run_crawl`` over a wide synthetic web from a seeded seed list.
    The seed write and the first epoch warm the session up (JIT,
    codegen, Python workers and their per-world caches); the crawl
    figures cover the epochs after it. ``compact_every`` is set so that
    every call passes one state compaction among those epochs."""

    name = "crawl-wide"
    # scale → (World kwargs, seeds per host, epochs, compact_every)
    SIZES = {
        "full": (dict(n_hosts=250, pages_per_host=80), 6, 3, 3),
        "tiny": (dict(n_hosts=20, pages_per_host=10), 2, 3, 2),
    }

    def sizes(self) -> dict:
        world, n_seeds, epochs, compact = self.SIZES[self.scale]
        return {"world": world, "seeds_per_host": n_seeds, "epochs": epochs,
                "compact_every": compact}

    def prepare(self, spark) -> None:
        from bisque_spark.synth import World, robots_rows

        s = self.sizes()
        self.world = World(**s["world"])
        self.seeds = seed_list(self.world, self.seed, s["seeds_per_host"])
        self.delay = {r["host"]: r["crawl_delay"] for r in robots_rows(self.world)}
        self.last_order_urls: list[str] = []

    def call(self, spark, i: int) -> Call:
        from bisque_spark.plans.crawl import run_crawl

        s = self.sizes()
        wd = os.path.join(self.work, f"crawl-{i}")
        t0 = _now_ms()
        res = run_crawl(
            spark, self.world, self.seeds, workdir=wd,
            max_epochs=s["epochs"], compact_every=s["compact_every"],
        )
        t1 = _now_ms()
        layout = self._layout(wd, res["epochs"])
        problems = self._check(spark, res, layout)
        shutil.rmtree(wd, ignore_errors=True)
        warm_s = layout["epoch_ends"][0] - t0 / 1e3
        return Call(
            wall_s=(t1 - t0) / 1e3 - warm_s,
            items=sum(layout["scheduled"][1:]),
            attempted=1,
            failed=1 if problems else 0,
            steps=layout["epoch_walls"][1:],
            spans=[("crawl", t0, t1)],
            warm_s=warm_s,
            info={"workdir": wd, "epochs": res["epochs"], **layout},
            problems=problems,
        )

    def _layout(self, wd: str, epochs: int) -> dict:
        """Outside-in facts from the committed crawl directory: epoch
        walls from commit-file mtimes, and row counts from parquet
        footers."""
        compact = self.sizes()["compact_every"]
        prev = os.path.getmtime(os.path.join(wd, "frontier_seed", "_SUCCESS"))
        frontier_in = _num_rows(os.path.join(wd, "frontier_seed"))
        walls, ends, scheduled = [], [], []
        frontier_sum = deferred = seen_new = links = 0
        union_widths, compaction_walls = [], []
        width = 1  # seed file, or the latest compaction base
        for e in range(epochs):
            d = os.path.join(wd, f"epoch={e:05d}")
            lin = os.path.join(d, "lineage.json")
            end = os.path.getmtime(lin)
            walls.append(end - prev)
            ends.append(end)
            prev = end
            with open(lin) as f:
                scheduled.append(json.load(f)["rows_scheduled"])
            j = os.path.join(d, "junction")
            n_order = _num_rows(os.path.join(j, "table=order"))
            frontier_sum += frontier_in
            deferred += frontier_in - n_order
            seen_new += _num_rows(os.path.join(j, "table=seen"))
            links += _num_rows(os.path.join(j, "table=links"))
            union_widths.append(width)
            width += 1
            if compact and (e + 1) % compact == 0:
                compaction_walls.append(walls[-1])
                width = 1
            frontier_in = _num_rows(os.path.join(j, "table=frontier"))
        return {
            "epoch_walls": walls,
            "epoch_ends": ends,
            "scheduled": scheduled,
            "deferred_frac": deferred / frontier_sum if frontier_sum else 0.0,
            "new_per_candidate": seen_new / links if links else 0.0,
            "union_paths": statistics.mean(union_widths) if union_widths else 0.0,
            "compaction_walls": compaction_walls,
        }

    def _check(self, spark, res: dict, layout: dict) -> list[str]:
        import pandas as pd
        import pyarrow.parquet as pq

        from bisque_spark.plans.crawl import read_seen
        from bisque_spark.synth import host_budget

        problems = []
        cols = ["epoch", "host", "host_rank", "url_hash", "url"]
        order = pd.concat(
            [
                pq.read_table(f, columns=cols).to_pandas()
                for p in res["order_paths"]
                for f in sorted(glob.glob(os.path.join(p, "*.parquet")))
            ],
            ignore_index=True,
        )
        seen = read_seen(spark, res).toPandas()["url_hash"]
        if seen.duplicated().any():
            problems.append(f"seen set has {int(seen.duplicated().sum())} duplicate url_hash")
        per_host = order.groupby(["epoch", "host"]).size()
        for (epoch, host), n in per_host.items():
            budget = host_budget(self.world, self.delay.get(host, 1.0))
            if n > budget:
                problems.append(f"epoch {epoch} host {host} scheduled {n} > budget {budget}")
                break
        if sum(layout["scheduled"]) != len(order):
            problems.append(
                f"lineage rows_scheduled {sum(layout['scheduled'])} != order rows {len(order)}"
            )
        order = order.sort_values(["epoch", "host", "host_rank", "url_hash"])
        self._check_digest("order", _digest(order.itertuples(index=False)), problems)
        self._check_digest("seen", _digest((h,) for h in sorted(seen)), problems)
        self.last_order_urls = order["url"].tolist()
        return problems

    def e2e(self, calls):
        urls = sum(c.items for c in calls)
        wall = sum(c.wall_s for c in calls)
        epochs = [w for c in calls for w in c.steps]
        tput = urls / wall
        p50 = _median(epochs)
        return tput, p50, {
            "crawl.urls_per_s": tput,
            "crawl.epoch_p50_s": p50,
            "crawl.epoch_samples": len(epochs),
            "crawl.epoch_walls": epochs,
            "crawl.urls": urls,
        }

    def trace(self, log, calls):
        rows = []
        for c in calls:
            _label, t0, t1 = c.spans[0]
            f = ledger.fold_call(log, t0, t1)
            st = f["_stages"]
            ep = max(1, c.info["epochs"])
            ext = ledger.python_metrics(log, st, "extract")
            wr = ledger.write_metrics(log, st, c.info["workdir"])
            seen_py = sum(
                ledger.python_metrics(log, st, k)["run_s"]
                for k in ("seen_cogroup", "seen_build", "seen_merge")
            )
            rows.append({
                "extract.stage_s": ledger.kind_stage_s(log, st, "extract"),
                "extract.python_run_s": ext["run_s"],
                "extract.arrow_to_python_bytes": ext["sent_bytes"],
                "extract.arrow_from_python_bytes": ext["returned_bytes"],
                "urlnorm.python_run_s": ledger.python_metrics(log, st, "urlnorm")["run_s"],
                "schedule.window_stage_s": sum(
                    (s["end"] - s["start"]) / 1e3 for s in st if "Window" in s["scopes"]
                ),
                "schedule.deferred_frac": c.info["deferred_frac"],
                "seen.cogroup_stage_s": ledger.kind_stage_s(log, st, "seen_cogroup"),
                "seen.build_stage_s": ledger.kind_stage_s(log, st, "seen_build"),
                "seen.python_run_s": seen_py,
                "seen.new_per_candidate": c.info["new_per_candidate"],
                "seen.union_paths": c.info["union_paths"],
                "crawl.jobs_per_epoch": f["n_jobs"] / ep,
                "crawl.tasks_per_epoch": f["n_tasks"] / ep,
                "crawl.driver_gap_s": f["driver_gap_s"],
                "crawl.write_stage_s": f["groups"].get("WriteFiles", {}).get("wall_s", 0.0),
                "crawl.task_commit_s": wr["task_commit_s"],
                "crawl.job_commit_s": wr["job_commit_s"],
                "crawl.files_per_epoch": wr["files"] / ep,
                "crawl.bytes_per_epoch": wr["bytes"] / ep,
                "crawl.compaction_epoch_s": _median(c.info["compaction_walls"]),
                "crawl.attributed_frac": f["attributed_frac"],
                **ledger.engine_metrics(log, st),
                "spark.jobs": float(f["n_jobs"]),
                "spark.tasks": float(f["n_tasks"]),
                "_fold": f,
            })
        return _per_call_median(rows)

    def layer_pass(self, spark):
        import layers

        return layers.crawl_layers(self.world, self.seeds, self.last_order_urls, self.seed)


def _per_call_median(rows: list[dict]) -> dict:
    """Per-layer value = median over the calls; every call's fold is
    kept for the ledger file."""
    out = {}
    for k in rows[0]:
        if not k.startswith("_"):
            out[k] = _median([r[k] for r in rows])
    out["_folds"] = [r["_fold"] for r in rows]
    return out


# ---- image curation ------------------------------------------------------------

IMG_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
_IMG_ARROW = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])
_CAPTION_WORDS = (
    "a red barn at dusk, an old map of the harbour, two cats on a wall, "
    "street market in the rain, mountain lake at noon, a bowl of soup"
).replace(",", "").split()


class CurateImages(Workload):
    """Curate a seeded image+caption table twice into one catalog: the
    first run creates the table, the second MERGEs the same rows."""

    name = "curate-images"
    SIZES = {"full": 400, "tiny": 120}

    def sizes(self):
        return {"images": self.SIZES[self.scale], "exact_dup_every": 20,
                "near_dup_every": 20, "empty_caption_every": 25}

    def prepare(self, spark):
        """Unique image ids (the table key); every 20th row copies an
        earlier row's bytes (exact duplicate), every 20th-offset row
        carries an earlier row's phash with one bit flipped (near
        duplicate), every 25th caption is empty."""
        import pandas as pd
        import pyarrow.parquet as pq

        from bisque_spark.synth import synth_image

        s = self.sizes()
        n = s["images"]
        rng = random.Random(self.seed)
        ids = [f"img-{self.seed}-{i:06d}" for i in range(n)]
        caps = [
            "" if i % s["empty_caption_every"] == 7
            else " ".join(rng.choice(_CAPTION_WORDS) for _ in range(rng.randint(2, 9)))
            for i in range(n)
        ]
        imgs = [synth_image(i) for i in ids]
        pdf = pd.DataFrame({
            "image_id": ids,
            **{k: [im[k] for im in imgs] for k in ("bytes", "w", "h", "fmt")},
            "caption": caps,
            "phash": [im["phash"] for im in imgs],
        })
        for i in range(n):
            if i % s["exact_dup_every"] == 3 and i > 3:
                src = rng.randrange(i)
                for col in ("bytes", "w", "h", "fmt", "phash"):
                    pdf.at[i, col] = pdf.at[src, col]
            elif i % s["near_dup_every"] == 13:
                src = rng.randrange(i)
                pdf.at[i, "phash"] = int(pdf.at[src, "phash"]) ^ (1 << rng.randrange(63))
        self.n = n
        path = os.path.join(self.work, "images_input")
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pandas(pdf, schema=_IMG_ARROW, preserve_index=False)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        self.images_pdf = pdf
        self.images = spark.read.schema(IMG_SCHEMA).parquet(path)

    def warm(self, spark):
        from bisque_spark.plans.curate_images import run_image_curation

        run_image_curation(
            spark, self.images.limit(40), os.path.join(self.work, "cat-warm")
        )
        shutil.rmtree(os.path.join(self.work, "cat-warm"), ignore_errors=True)

    def _catalog_rows(self, spark, root: str):
        from bisque_spark.sources.catalog import ParquetCatalog

        pdf = ParquetCatalog(spark, root).read("curated_images").toPandas()
        pdf = pdf.sort_values("image_id")[sorted(pdf.columns)]
        return len(pdf), _digest(pdf.itertuples(index=False))

    def call(self, spark, i):
        from bisque_spark.plans.curate_images import run_image_curation

        root = os.path.join(self.work, f"catalog-{i}")
        problems, walls, spans, counts = [], [], [], []
        snapshots = []
        for label in ("first", "merge"):
            t0 = _now_ms()
            p0 = time.perf_counter()
            c = run_image_curation(spark, self.images, root)
            walls.append(time.perf_counter() - p0)
            spans.append((label, t0, _now_ms()))
            counts.append(c)
            funnel = [c["input"], c["after_quality"], c["after_caption"],
                      c["after_dedup"], c["final"]]
            if any(b > a for a, b in zip(funnel, funnel[1:])):
                problems.append(f"{label} run funnel increases: {funnel}")
            snapshots.append(self._catalog_rows(spark, root))
        if snapshots[0] != snapshots[1]:
            problems.append(f"rerun changed the catalog: {snapshots[0]} -> {snapshots[1]}")
        if counts[1]["catalog_version"] != counts[0]["catalog_version"] + 1:
            problems.append("rerun did not commit exactly one new catalog version")
        self._check_digest("catalog", snapshots[1][1], problems)
        shutil.rmtree(root, ignore_errors=True)
        return Call(
            wall_s=sum(walls), items=self.n, attempted=2,
            failed=min(2, len(problems)), steps=walls, spans=spans,
            info={"root": root, "walls": walls, "counts": counts},
            problems=problems,
        )

    def e2e(self, calls):
        first = _median([c.info["walls"][0] for c in calls])
        merge = _median([c.info["walls"][1] for c in calls])
        return self.n / first, merge, {
            "curate.images_per_s": self.n / first,
            "curate.merge_images_per_s": self.n / merge,
            "curate.runs": 2 * len(calls),
            "curate.funnel": calls[-1].info["counts"][0],
        }

    def trace(self, log, calls):
        rows = []
        for c in calls:
            (_l0, a0, a1), (_l1, b0, b1) = c.spans
            first = ledger.fold_call(log, a0, a1)
            merge = ledger.fold_call(log, b0, b1)
            st = first["_stages"] + merge["_stages"]
            mm = ledger.python_metrics(log, st, "multimodal")
            w_first = ledger.write_metrics(log, first["_stages"], c.info["root"])
            w_merge = ledger.write_metrics(log, merge["_stages"], c.info["root"])
            merge_write_jobs = [
                j["wall_s"] for j in merge["jobs"]
                if j["label"].startswith("write:") and "_staging" in j["label"]
            ]
            rows.append({
                "multimodal.stage_s": ledger.kind_stage_s(log, st, "multimodal") / 2,
                "multimodal.python_run_s": mm["run_s"] / 2,
                "catalog.merge_s": sum(merge_write_jobs),
                "catalog.files_written": w_merge["files"],
                "catalog.bytes_per_row": (
                    w_merge["bytes"] / w_merge["rows"] if w_merge["rows"] else 0.0
                ),
                "catalog.rewrite_bytes_ratio": (
                    w_merge["bytes"] / w_first["bytes"] if w_first["bytes"] else 0.0
                ),
                "curate.driver_gap_s": first["driver_gap_s"] + merge["driver_gap_s"],
                "curate.attributed_frac": (
                    (first["attributed_frac"] * first["wall_s"]
                     + merge["attributed_frac"] * merge["wall_s"])
                    / (first["wall_s"] + merge["wall_s"])
                ),
                **ledger.engine_metrics(log, st),
                "spark.jobs": float(first["n_jobs"] + merge["n_jobs"]),
                "spark.tasks": float(first["n_tasks"] + merge["n_tasks"]),
                "_fold": {"first": first, "merge": merge},
            })
        return _per_call_median(rows)

    def layer_pass(self, spark):
        import layers

        return layers.curate_layers(spark, self.images_pdf, self.images, self.seed)


# ---- near-pair operators ---------------------------------------------------------

_VOCAB = [f"w{i:03d}{'abcdefgh'[i % 8]}" for i in range(400)]


class NearDups(Workload):
    """Seeded documents and embeddings; every row with id ≡ 1 (mod 10)
    is a planted near-duplicate of row id-1, so the planted pair count
    grows linearly with rows. Document twins hold the same token set
    in another order (last word moved to the front); embedding twins
    add N(0, 0.01) noise per dimension."""

    name = "near-dups"
    SIZES = {"full": 800, "tiny": 200}
    MINHASH_T = 0.5
    SIMHASH_H = 6
    NGRAM_T = 0.5
    LSH_COS = 0.9
    SEM_TAU = 0.95
    N_CELLS = 8
    # exact-measure slack for the MinHash estimate when re-verifying
    MINHASH_SLACK = 0.25

    def sizes(self):
        return {"documents": self.SIZES[self.scale],
                "embeddings": self.SIZES[self.scale], "dim": 64,
                "planted_every": 10}

    def prepare(self, spark):
        import numpy as np
        import pandas as pd

        n = self.sizes()["documents"]
        rng = np.random.default_rng(self.seed)
        texts = []
        for i in range(n):
            if i % 10 == 1:
                w = texts[i - 1].split()
                texts.append(" ".join([w[-1]] + w[:-1]))
            else:
                k = int(rng.integers(40, 70))
                texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
        vecs = rng.standard_normal((n, 64)).astype(np.float32)
        twin = np.arange(n) % 10 == 1
        vecs[twin] = vecs[np.flatnonzero(twin) - 1] + rng.normal(
            0, 0.01, (int(twin.sum()), 64)
        ).astype(np.float32)
        self.texts, self.vecs = texts, vecs
        self.planted = {(i - 1, i) for i in range(n) if i % 10 == 1}
        parts = spark.sparkContext.defaultParallelism
        self.docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
        ).repartition(parts).cache()
        self.emb = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                          "embedding": list(vecs)}),
            "vec_id long, embedding array<float>",
        ).repartition(parts).cache()
        self.docs.count()
        self.emb.count()
        self.n = 2 * n
        self.checked = False

    def _ops(self):
        from bisque_spark.operators.dedup import (
            minhash_dedup_pairs,
            ngram_jaccard_pairs,
            simhash_dedup_pairs,
        )
        from bisque_spark.operators.similarity import (
            ivf_build,
            lsh_near_pairs,
            semantic_dup_ids,
        )

        def semantic():
            assigned, _ = ivf_build(self.emb, n_cells=self.N_CELLS)
            self.assigned = assigned
            return semantic_dup_ids(assigned, tau=self.SEM_TAU)

        return [
            ("dedup.minhash", lambda: minhash_dedup_pairs(
                self.docs, "doc_id", "text", threshold=self.MINHASH_T)),
            ("dedup.simhash", lambda: simhash_dedup_pairs(
                self.docs, "doc_id", "text", max_hamming=self.SIMHASH_H)),
            ("dedup.ngram", lambda: ngram_jaccard_pairs(
                self.docs, "doc_id", "text", n=3, threshold=self.NGRAM_T)),
            ("similarity.lsh", lambda: lsh_near_pairs(
                self.emb, min_cosine=self.LSH_COS)),
            ("similarity.semantic", semantic),
        ]

    def warm(self, spark):
        from bisque_spark.util import release_caches

        docs, emb = self.docs, self.emb
        self.docs, self.emb = docs.limit(50), emb.limit(50)
        try:
            for _name, op in self._ops():
                op().write.format("noop").mode("overwrite").save()
                release_caches()
        finally:
            self.docs, self.emb = docs, emb

    def call(self, spark, i):
        from bisque_spark.util import release_caches

        walls, spans, problems, pairs = {}, [], [], {}
        for name, op in self._ops():
            t0 = _now_ms()
            p0 = time.perf_counter()
            # the output is cached by the timed noop write, so the
            # once-per-run check below reads it without a recompute
            out = op().persist()
            out.write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - p0
            spans.append((name, t0, _now_ms()))
            if not self.checked:
                pairs[name] = out.toPandas()
                if name == "similarity.semantic":
                    cells = self.assigned.select("vec_id", "cell").toPandas()
                    self.cells = dict(zip(cells["vec_id"], cells["cell"]))
            out.unpersist()
            release_caches()
        if not self.checked:
            problems = self._verify(pairs)
            self.pair_counts = {k: len(v) for k, v in pairs.items()}
            self.checked = True
        total = sum(walls.values())
        return Call(
            wall_s=total, items=self.n, attempted=len(walls),
            failed=min(len(walls), len(problems)),
            steps=list(walls.values()), spans=spans,
            info={"walls": walls}, problems=problems,
        )

    def _verify(self, pairs: dict) -> list[str]:
        import numpy as np

        from bisque_spark.functions.text import simhash_py

        problems = []

        def shingles(t, k=8):
            b = t.encode()
            return {b[j:j + k] for j in range(max(1, len(b) - k + 1))}

        def grams(t, n=3):
            w = t.split()
            return {" ".join(w[j:j + n]) for j in range(len(w) - n + 1)}

        def jac(a, b):
            return len(a & b) / len(a | b) if a | b else 0.0

        def check(name, df, value_ok):
            got = set()
            for a, b, v in df.itertuples(index=False):
                a, b = int(a), int(b)
                got.add((a, b))
                if not value_ok(a, b, v):
                    problems.append(f"{name}: pair ({a}, {b}) value {v} fails re-verify")
                    return
            missing = self.planted - got
            if missing:
                problems.append(f"{name}: {len(missing)} planted pairs not found")

        T = self.texts
        mh = pairs["dedup.minhash"][["id_a", "id_b", "est_jaccard"]]
        check("dedup.minhash", mh, lambda a, b, v: v >= self.MINHASH_T and jac(
            shingles(T[a]), shingles(T[b])) >= self.MINHASH_T - self.MINHASH_SLACK)
        sh = pairs["dedup.simhash"][["id_a", "id_b", "hamming"]]
        check("dedup.simhash", sh, lambda a, b, v: v <= self.SIMHASH_H and bin(
            (simhash_py(T[a]) ^ simhash_py(T[b])) & ((1 << 64) - 1)).count("1") == v)
        ng = pairs["dedup.ngram"][["id_a", "id_b", "jaccard"]]
        check("dedup.ngram", ng, lambda a, b, v: v >= self.NGRAM_T and abs(
            jac(grams(T[a]), grams(T[b])) - v) < 1e-9)
        V = self.vecs.astype(np.float64)

        def cos(a, b):
            return float(V[a] @ V[b] / (np.linalg.norm(V[a]) * np.linalg.norm(V[b])))

        lsh = pairs["similarity.lsh"][["id_a", "id_b", "cosine"]]
        check("similarity.lsh", lsh, lambda a, b, v: v >= self.LSH_COS and abs(
            cos(a, b) - v) < 1e-5)
        dropped = set(int(x) for x in pairs["similarity.semantic"]["vec_id"])
        norms = np.linalg.norm(V, axis=1)
        for j in dropped:
            sims = (V[:j] @ V[j]) / (norms[:j] * norms[j])
            if not (sims >= self.SEM_TAU - 1e-6).any():
                problems.append(f"similarity.semantic: dropped id {j} has no earlier twin")
                break
        same_cell = {b for a, b in self.planted if self.cells.get(a) == self.cells.get(b)}
        if same_cell - dropped:
            problems.append(
                f"similarity.semantic: {len(same_cell - dropped)} planted twins kept"
            )
        return problems

    def e2e(self, calls):
        passes = [c.wall_s for c in calls]
        steps = [w for c in calls for w in c.steps]
        tput = self.n / _median(passes)
        return tput, _median(steps), {
            "neardup.rows_per_s": tput,
            "neardup.passes": len(passes),
            **{f"{k}_s": _median([c.info["walls"][k] for c in calls])
               for k in calls[0].info["walls"]},
        }

    def trace(self, log, calls):
        rows = []
        for c in calls:
            t0, t1 = c.spans[0][1], c.spans[-1][2]
            f = ledger.fold_call(log, t0, t1)
            rows.append({
                **{f"{k}_s": v for k, v in c.info["walls"].items()},
                **{f"{k}_pairs": float(v) for k, v in self.pair_counts.items()},
                "neardup.attributed_frac": f["attributed_frac"],
                "neardup.driver_gap_s": f["driver_gap_s"],
                **ledger.engine_metrics(log, f["_stages"]),
                "spark.jobs": float(f["n_jobs"]),
                "spark.tasks": float(f["n_tasks"]),
                "_fold": f,
            })
        return _per_call_median(rows)


class CurateDedup(Workload):
    """Both batch pipelines in one call: the image curation pair, then
    one pass over the five near-pair operators. Throughput is input
    rows (images, documents, embeddings) per second of call wall; a
    step is one curation run."""

    name = "curate-dedup"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [CurateImages(*args), NearDups(*args)]

    def sizes(self):
        return {p.name: p.sizes() for p in self.parts}

    def prepare(self, spark):
        for p in self.parts:
            p.prepare(spark)

    def warm(self, spark):
        for p in self.parts:
            p.warm(spark)

    def call(self, spark, i):
        cs = [p.call(spark, i) for p in self.parts]
        return Call(
            wall_s=sum(c.wall_s for c in cs),
            items=sum(c.items for c in cs),
            attempted=sum(c.attempted for c in cs),
            failed=sum(c.failed for c in cs),
            steps=[w for c in cs for w in c.steps],
            spans=[sp for c in cs for sp in c.spans],
            info={p.name: c for p, c in zip(self.parts, cs)},
            problems=[x for c in cs for x in c.problems],
        )

    def e2e(self, calls):
        tput = sum(c.items for c in calls) / sum(c.wall_s for c in calls)
        # a step is one curation run: the two runs of a call are the
        # same size, unlike the five operators
        step = _median([w for c in calls for w in c.info["curate-images"].steps])
        named = {}
        for p in self.parts:
            named.update(p.e2e([c.info[p.name] for c in calls])[2])
        return tput, step, named

    def trace(self, log, calls):
        out, folds = {}, []
        for p in self.parts:
            t = p.trace(log, [c.info[p.name] for c in calls])
            folds.append(t.pop("_folds"))
            for k, v in t.items():
                if k == "spark.max_task_shuffle_read_bytes":
                    out[k] = max(out.get(k, 0.0), v)
                elif k.startswith("spark."):
                    out[k] = out.get(k, 0.0) + v
                else:
                    out[k] = v
        out["_folds"] = folds
        return out

    def layer_pass(self, spark):
        return self.parts[0].layer_pass(spark)


WORKLOADS = {w.name: w for w in (CrawlWide, CurateDedup)}
