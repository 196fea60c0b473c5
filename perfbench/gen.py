"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from ``--seed`` and nothing else:
the same seed gives byte-identical files, another seed gives other files.
The engine only receives the generated files (plaintext drops, parquet
tables); the generators also return what the outputs must be, which is
what `oracle.py` checks against.

Run ``python3 perfbench/gen.py --seed 7`` to print the SHA-256 of every
input of seed 7; two runs with one seed print the same digests.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

#: the engine's fixed "now" for every workload (2026-01-01T00:00:00Z); the
#: carbon admission window and every render range are anchored on it
NOW = 1_767_225_600
DAY = 86_400
RETENTION = 7 * DAY  # IngestPipeline.max_retention default


# ---------------------------------------------------------------- carbon_live

#: live series: relay r, metric m → ``live.relay{r}.{m}``.  A tenth of the
#: lines arrive under the legacy prefix and reach the same series through
#: the rewrite rule, as a renamed relay would.
RELAYS = 8
METRICS = ("cpu", "mem", "load", "rx", "tx", "err")
REWRITE = (r"^legacy\.", "live.")

#: each file carries the next FILE_MINUTES minutes of every series at a
#: 60 s cadence (jittered within the minute), as a relay flushing its queue
#: would.  The timeline starts 24 h 50 min before NOW, so files cross a date
#: boundary within the first cycles.  The series are dense enough that the
#: 10-minute rollup's xFilesFactor gate passes.
FILE_MINUTES = 25
TIMELINE_START = NOW - 24 * 3_600 - 50 * 60

#: line mix, as shares of a file; the rest are fresh points.  Each class
#: exercises one admission rule of `IngestPipeline.transform` /
#: `_dedup_new`, so a change to any of them shows in the output check.
MIX = {
    "malformed": 0.02,   # non-numeric value/ts, wrong field count: dropped
    "no_ts": 0.01,       # two fields: stamped with now, admitted
    "future": 0.01,      # ts > now: dropped
    "expired": 0.01,     # ts older than the 7 d retention: dropped
    "overwrite": 0.06,   # same (path, second) as an earlier line: last wins
    "late": 0.05,        # an older second of the last 36 h: other dates
    "legacy": 0.10,      # legacy prefix: rewrite rule hit
}


def _value(rng: random.Random) -> str:
    return f"{rng.uniform(0, 1000):.3f}"


def file_head(index: int) -> int:
    """The newest second file ``index`` can carry: a live dashboard's
    "now" once it is ingested."""
    return TIMELINE_START + (index + 1) * FILE_MINUTES * 60 - 1


@dataclass
class CarbonFile:
    name: str
    text: str
    #: (path, ts) → value for every ADMITTED line, in line order (later
    #: entries overwrite earlier ones: the in-batch LWW)
    admitted: dict = field(default_factory=dict)
    dates: set = field(default_factory=set)


def carbon_file(seed: int, index: int, history: list) -> CarbonFile:
    """The plaintext file of cycle ``index``.  ``history`` is every
    admitted (path, ts) so far, in arrival order; overwrite lines re-use
    its keys, so cross-batch last-write-wins is exercised too.  It is
    extended in place."""
    rng = random.Random(f"carbon:{seed}:{index}")
    lines: list[str] = []
    out = CarbonFile(name=f"drop-{index:05d}.txt", text="")
    base = TIMELINE_START + index * FILE_MINUTES * 60
    for minute in range(FILE_MINUTES):
        for relay in range(RELAYS):
            for metric in METRICS:
                path = f"live.relay{relay}.{metric}"
                ts = base + minute * 60 + rng.randrange(60)
                r, kind = rng.random(), "fresh"
                for k, share in MIX.items():
                    if r < share:
                        kind = k
                        break
                    r -= share
                line, key = _line(rng, kind, path, ts, base, history, out.admitted)
                lines.append(line)
                if key is not None:
                    out.admitted.pop(key, None)  # re-insert: dict order = last write
                    out.admitted[key] = float(line.split()[1])
    for key in out.admitted:
        history.append(key)
        out.dates.add(_date(key[1]))
    out.text = "\n".join(lines) + "\n"
    return out


def _line(rng, kind, path, ts, base, history, admitted):
    """(line, admitted key or None) for one line of class ``kind``."""
    value = _value(rng)
    if kind == "malformed":
        return rng.choice((
            f"{path} n/a {ts}",
            f"{path} {value} {ts}x",
            f"{path} {value} {ts} extra",
            f"{path}",
            "",
        )), None
    if kind == "future":
        return f"{path} {value} {NOW + 1 + rng.randrange(3_600)}", None
    if kind == "expired":
        return f"{path} {value} {NOW - RETENTION - 1 - rng.randrange(DAY)}", None
    if kind == "no_ts":
        return f"{path} {value}", (path, NOW)
    if kind == "overwrite" and (history or admitted):
        # half re-write a key of this file, half one of an earlier file
        in_file = admitted and (not history or rng.random() < 0.5)
        pool = list(admitted) if in_file else history
        path, ts = pool[rng.randrange(len(pool))]
    elif kind == "late":
        ts = NOW - 36 * 3_600 + rng.randrange(base - (NOW - 36 * 3_600))
    elif kind == "legacy":
        return f"legacy.{path[len('live.'):]} {value} {ts}", (path, ts)
    return f"{path} {value} {ts}", (path, ts)


def _date(ts: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%d")


#: read mix issued after each trigger, one entry per request.  Every
#: kind appears in every cycle, in this order, so the mix is the same for
#: every seed and a run's medians compare across seeds; the seed picks the
#: concrete relays and metrics.  Ranges end at the newest ingested
#: minute, as a live dashboard's do.  6 h / 1 d are dashboard panels
#: (`*` and `{a,b}` globs); the 7 d panel over all eight relays (a `?`
#: glob) trips the 10080-point coarsening.
READS = (
    ("render", "live.{relay}.*", 6 * 3_600),
    ("render", "live.{{{a},{b}}}.{{{m1},{m2}}}", DAY),
    ("find", "live.{relay}.*", None),
    ("render", "live.relay?.{metric}", 7 * DAY),
    ("expand", "live.*.{metric}", None),
)


def cycle_reads(seed: int, index: int, catalog: list[str]) -> list[dict]:
    """The requests of cycle ``index``; targets are built from the series
    catalog the engine reports (`series_stats()`), as a dashboard's
    template variables are.  Panel choice is Zipf-skewed over the catalog's
    relays, so some panels repeat across cycles."""
    rng = random.Random(f"reads:{seed}:{index}")
    relays = sorted({p.split(".")[1] for p in catalog})
    metrics = sorted({p.split(".")[2] for p in catalog})
    # Zipf(1) over a per-seed ranking of the relays: the seed decides which
    # dashboards are hot, the skew (and so the repeat share) is fixed
    ranked = random.Random(f"zipf:{seed}").sample(relays, len(relays))
    weights = [1 / (k + 1) for k in range(len(ranked))]

    def relay() -> str:
        return rng.choices(ranked, weights)[0]

    out = []
    for kind, pattern, span in READS:
        a, b = rng.sample(relays, 2)
        m1, m2 = rng.sample(metrics, 2)
        target = pattern.format(
            relay=relay(), a=a, b=b, m1=m1, m2=m2, metric=rng.choice(metrics)
        )
        req = {"kind": kind, "target": target}
        if kind == "render":
            # json and csv alternate, so every panel is served in both
            # formats equally often whatever the seed
            req["format"] = ("json", "csv")[(index + len(out)) % 2]
            req["until"] = file_head(index)
            req["from"] = req["until"] - span
        out.append(req)
    return out


# -------------------------------------------------------------- corpus_build

#: TESTDATA's documents/embeddings shape: the fixture's 31-word vocabulary,
#: 5-100 words per doc, its lang mix, 20 sources, 64-d unit vectors with
#: ten labels.  500 rows each, the sf0.01 size: the nine queries are
#: dominated by per-job and per-plan cost at this size, which is what the
#: construct-layer work of ROADMAP items 2-3 changes.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
N_DOCS = 500
N_VECS = 500
DIM = 64
LABELS = 10
#: near-dup families: docs with doc_id % 20 in (1, 2) copy the text of the
#: doc_id % 20 == 0 head with one or two words changed, and vectors with
#: vec_id % 25 == 1 sit next to their head's, so minhash, n-gram, winnow
#: and semantic dedup all find real pairs
FAMILY_DOC = 20
FAMILY_VEC = 25


def corpus_tables(seed: int):
    """(documents, embeddings) as pyarrow tables with the TESTDATA schema."""
    import numpy as np
    import pyarrow as pa

    rng = random.Random(f"corpus:{seed}")
    words = [w for w in VOCAB if w != "dup"]
    texts: list[str] = []
    for doc_id in range(N_DOCS):
        head = doc_id - doc_id % FAMILY_DOC
        if doc_id % FAMILY_DOC in (1, 2):
            toks = texts[head].split()
            for _ in range(doc_id % FAMILY_DOC):
                toks[rng.randrange(len(toks))] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words) for _ in range(rng.randint(5, 100))))
    langs = rng.choices([l for l, _ in LANGS], [w for _, w in LANGS], k=N_DOCS)
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(np.random.SeedSequence([seed, 0xC0]))
    centers = nrng.normal(size=(LABELS, DIM))
    labels = nrng.integers(0, LABELS, size=N_VECS)
    vecs = 0.15 * centers[labels] + nrng.normal(size=(N_VECS, DIM))
    for v in range(1, N_VECS, FAMILY_VEC):
        vecs[v] = vecs[v - 1] + 0.05 * nrng.normal(size=DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return docs, emb


def write_corpus(tables, out_dir: str) -> None:
    """Write `corpus_tables` output as ``documents.parquet`` and
    ``embeddings.parquet`` under ``out_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs, emb = tables
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def input_digests(seed: int, scratch: str) -> dict[str, str]:
    """SHA-256 of the first four carbon files and the corpus tables of
    ``seed``."""
    out: dict[str, str] = {}
    history: list = []
    for i in range(4):
        f = carbon_file(seed, i, history)
        out[f"carbon/{f.name}"] = hashlib.sha256(f.text.encode()).hexdigest()
    write_corpus(corpus_tables(seed), scratch)
    for name in ("documents.parquet", "embeddings.parquet"):
        with open(os.path.join(scratch, name), "rb") as fh:
            out[f"corpus/{name}"] = hashlib.sha256(fh.read()).hexdigest()
    return out


if __name__ == "__main__":
    import argparse
    import json
    import shutil
    import tempfile

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    tmp = tempfile.mkdtemp(prefix="perfbench-gen-", dir=".")
    try:
        print(json.dumps(input_digests(args.seed, tmp), indent=1, sort_keys=True))
    finally:
        shutil.rmtree(tmp)
