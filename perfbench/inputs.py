"""Seeded benchmark inputs, materialized once per (workload, input variant).

Every input is a pure function of the seed, through its input variant
``seed % VARIANTS``: building inputs costs a Spark session of its own
(~20 s), and a small pool of variants lets most runs of a campaign reuse
them. The change logs and example
rows come from the engine's own generators (``changegen``,
``examplegen``) and the Debezium wrapping is built here. The near-duplicate
corpus is a seeded sample of the sf0.1 documents table, committed as
``data/sf0.1_documents.parquet``. Expected results are computed by
references that share no code with the engine: the pure-Python
``reference_oracle.replay`` for the CDC tables, and an exact all-pairs
Jaccard join over the whole documents table, pinned once in
``data/sf0.1_pairs.json`` (``python3 perfbench/inputs.py pin-pairs``
recomputes it). A sample's true pairs are the pinned pairs with both ends
in the sample.

Inputs are built by ``build`` in a Spark session of their own, before the
measured session starts. A finished input directory holds ``meta.json``
(written last); a directory without it is regenerated.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import sys
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import digest

#: input sizes per workload (the cache key includes them)
SIZES = {
    "cdc_tail": {
        "epoch_events": 10_000,
        "epochs": 10,
        "n_docs": 20_000,
        "buckets": 8,
    },
    "batch_ops": {
        "rows": 30_000,
        "invalid_per_mille": 5,
        "docs": 2_000,
        "envelopes": 30_000,
    },
}

#: distinct inputs per workload; seeds that agree modulo it share inputs
VARIANTS = 4

HERE = os.path.dirname(os.path.abspath(__file__))
#: the sf0.1 documents table (5,000 docs) and its pinned exact pairs
DOCUMENTS = os.path.join(HERE, "data", "sf0.1_documents.parquet")
PAIRS = os.path.join(HERE, "data", "sf0.1_pairs.json")

#: the reference's benchmark config: 9 columns, 2 nested paths, 2 array
#: indexes (example/config.yml, mirrored by tests/test_example_rows.py)
EXPAND_CFG = {
    "json_column_name": "json_payload",
    "root": "$.",
    "expanded_columns": [
        {"name": "phone_numbers", "type": "string"},
        {"name": "app_id", "type": "long"},
        {"name": "point", "type": "double"},
        {"name": "created_at", "type": "timestamp", "format": "%Y-%m-%d"},
        {"name": "profile.anniversary.et", "type": "string"},
        {"name": "profile.anniversary", "type": "string"},
        {"name": "profile.like_words[1]", "type": "string"},
        {"name": "profile.like_words[2]", "type": "string"},
        {"name": "profile.like_words", "type": "string"},
    ],
}

#: MinHash-LSH settings of the timed near-duplicate call
NEARDUP = {"num_hashes": 64, "bands": 16, "shingle_size": 5, "threshold": 0.8}


def input_dir(work: str, workload: str, seed: int) -> str:
    """Keyed by workload, input variant and sizes, so a size change
    regenerates."""
    sizes = json.dumps(SIZES[workload], sort_keys=True).encode()
    return os.path.join(
        work,
        "inputs",
        f"{workload}-v{seed % VARIANTS}-{hashlib.sha1(sizes).hexdigest()[:8]}",
    )


def ready(work: str, workload: str, seed: int) -> bool:
    return os.path.exists(os.path.join(input_dir(work, workload, seed), "meta.json"))


def build(spark, work: str, workload: str, seed: int) -> None:
    """Materialize the inputs and expected results of (workload, seed)."""
    d = input_dir(work, workload, seed)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = _BUILDERS[workload](spark, d, seed % VARIANTS)
    meta["workload"], meta["variant"] = workload, seed % VARIANTS
    tmp = os.path.join(d, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(d, "meta.json"))


def load(work: str, workload: str, seed: int) -> dict:
    """-> meta dict (paths and expected results) of built inputs."""
    d = input_dir(work, workload, seed)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    # paths are stored relative to the input directory
    meta["dir"] = d
    meta["paths"] = {k: os.path.join(d, v) for k, v in meta["paths"].items()}
    return meta


# ------------------------------------------------------------------ CDC


def _build_cdc_tail(spark, d: str, variant: int) -> dict:
    from embulk_filter_expand_json_spark.sources.changegen import (
        ChangeGenConfig,
        write_changes,
    )

    sizes = SIZES["cdc_tail"]
    cfg = ChangeGenConfig(
        n_events=sizes["epoch_events"] * sizes["epochs"],
        n_docs=sizes["n_docs"],
        batch_size=sizes["epoch_events"],
        seed=variant,
    )
    write_changes(spark, cfg, os.path.join(d, "log"))
    return {"paths": {"log": "log"}, **sizes}


def _write_debezium(spark, log: str, path: str) -> None:
    """Wrap a change log as Debezium envelopes, the same wrapping as
    bench.py's envelope_decode stage. A malformed payload makes its whole
    envelope unreadable, which the decoder excludes."""
    from pyspark.sql import functions as F

    is_del = F.col("op") == "D"
    spark.read.parquet(log).select(
        F.concat(
            F.lit('{"payload":{"op":"'),
            F.when(is_del, F.lit("d")).otherwise(F.lit("u")),
            F.lit('","source":{"lsn":'),
            F.col("log_offset").cast("string"),
            F.lit("},"),
            F.when(is_del, F.lit('"before":')).otherwise(F.lit('"after":')),
            F.col("payload"),
            F.lit("}}"),
        ).alias("value")
    ).write.mode("overwrite").parquet(path)


def expected_decode(log: str) -> list:
    """What decoding the envelopes must yield, from the generator's log:
    every event whose payload is JSON, with op D kept and I/U as U."""
    import pyarrow.parquet as pq

    t = pq.read_table(log, columns=["log_offset", "op", "payload"])
    out = []
    for o, op, p in zip(*(t.column(c).to_pylist() for c in ("log_offset", "op", "payload"))):
        try:
            json.loads(p)
        except ValueError:
            continue
        out.append((o, "D" if op == "D" else "U", p))
    return digest.of_rows(out)


def oracle_digest(meta: dict, last_epoch: int) -> list:
    """Digest of ``reference_oracle.replay`` over the log's epochs up to
    ``last_epoch``, cached in the input directory: the first run of a
    variant that stops at this epoch computes it."""
    cache = os.path.join(meta["dir"], f"oracle-{int(last_epoch)}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    out = _oracle_digest(meta["paths"]["log"], last_epoch)
    with open(cache + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache + ".tmp", cache)
    return out


def _oracle_digest(log: str, last_epoch: int) -> list:
    import pyarrow.parquet as pq

    from embulk_filter_expand_json_spark.reference_oracle import replay

    t = pq.read_table(
        log,
        columns=["log_offset", "op", "payload"],
        filters=[("epoch", "<=", int(last_epoch))],
    )
    events = zip(
        t.column("log_offset").to_pylist(),
        t.column("op").to_pylist(),
        t.column("payload").to_pylist(),
    )
    state = replay(events, extra_keys=["lang"])
    return digest.of_rows(
        (k, v["tokens"], v["n_tok"], v["source"], v.get("lang"))
        for k, v in state.items()
    )


# ------------------------------------------------------------ batch ops


def _build_batch_ops(spark, d: str, variant: int) -> dict:
    from pyspark.sql import functions as F

    from embulk_filter_expand_json_spark.sources.examplegen import (
        generate_example_rows,
    )

    sizes = SIZES["batch_ops"]
    rows = os.path.join(d, "example_rows")
    # a seeded share of rows carries a non-numeric app_id: the operator's
    # invalid-record channel must drop exactly these
    bad = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(variant), F.lit(99)), F.lit(1000))
        < sizes["invalid_per_mille"]
    )
    df = generate_example_rows(spark, n=sizes["rows"], seed=variant)
    df = df.withColumn(
        "json_payload",
        F.when(
            bad,
            F.regexp_replace("json_payload", '"app_id":[0-9]+', '"app_id":"n/a"'),
        ).otherwise(F.col("json_payload")),
    )
    df.write.mode("overwrite").parquet(rows)
    n_invalid = spark.read.parquet(rows).filter(
        F.col("json_payload").contains('"app_id":"n/a"')
    ).count()

    from embulk_filter_expand_json_spark.sources.changegen import (
        ChangeGenConfig,
        write_changes,
    )

    log = os.path.join(d, "changes")
    n = sizes["envelopes"]
    write_changes(
        spark, ChangeGenConfig(n_events=n, n_docs=n // 10, batch_size=n, seed=variant), log
    )
    _write_debezium(spark, log, os.path.join(d, "envelopes"))
    want_decode = expected_decode(log)
    shutil.rmtree(log)  # the engine receives only the envelopes

    docs, pairs = sample_documents(variant, sizes["docs"])
    _write_docs(docs, os.path.join(d, "documents"))
    return {
        "paths": {"rows": "example_rows", "documents": "documents", "envelopes": "envelopes"},
        "invalid_rows": n_invalid,
        "decoded": want_decode,
        "pairs": pairs,
        **sizes,
    }


def read_documents() -> list:
    """(doc_id, text) rows of the committed sf0.1 documents table."""
    import pyarrow.parquet as pq

    t = pq.read_table(DOCUMENTS, columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def sample_documents(seed: int, n: int):
    """A seeded sample of ``n`` sf0.1 documents and its true pairs: the
    pinned pairs with both ends in the sample (exact Jaccard is a property
    of the pair alone). -> (docs, sorted [id_a, id_b, jaccard])"""
    with open(PAIRS) as f:
        pinned = json.load(f)
    if pinned["documents_sha256"] != _sha256(DOCUMENTS):
        raise RuntimeError(f"{PAIRS} was pinned for another {DOCUMENTS}; re-pin it")
    docs = read_documents()
    keep = set(random.Random(seed).sample(sorted(i for i, _ in docs), n))
    docs = [dt for dt in docs if dt[0] in keep]
    pairs = [p for p in pinned["pairs"] if p[0] in keep and p[1] in keep]
    return docs, pairs


def _write_docs(docs: list, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )


def shingles(text: str, k: int) -> frozenset:
    """Character k-grams of the whitespace-collapsed, lower-cased text (the
    shingling the engine documents for MinHash)."""
    s = re.sub(r"\s+", " ", text).lower()
    if len(s) < k:
        return frozenset([s])
    return frozenset(s[i : i + k] for i in range(len(s) - k + 1))


def rounded_jaccard(a: frozenset, b: frozenset) -> float:
    """Jaccard rounded half-up to 6 decimals, as the engine reports it."""
    j = Fraction(len(a & b), len(a | b)) if (a or b) else Fraction(0)
    return float(Decimal(repr(float(j))).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def reference_pairs(docs: list, k: int, threshold: float) -> list:
    """Every pair with exact shingle Jaccard >= threshold, by brute force:
    shingle-set intersection sizes of all pairs as a 0/1 matrix product in
    blocks (exact integer counts), then exact rational verification of the
    pairs that pass. -> sorted [id_a, id_b, jaccard]"""
    import numpy as np

    ids = [i for i, _ in docs]
    sets = [shingles(t, k) for _, t in docs]
    vocab = {g: c for c, g in enumerate(sorted(set().union(*sets)))}
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for r, s in enumerate(sets):
        m[r, [vocab[g] for g in s]] = 1.0
    size = m.sum(axis=1)
    out = []
    for lo in range(0, len(sets), 500):
        inter = m[lo : lo + 500] @ m.T
        union = size[lo : lo + 500, None] + size[None, :] - inter
        rows, cols = np.nonzero(inter >= threshold * union - 1e-3)
        for r, c in zip(rows + lo, cols):
            if r < c:
                j = rounded_jaccard(sets[r], sets[c])
                if j >= threshold:
                    a, b = sorted((ids[r], ids[c]))
                    out.append([a, b, j])
    return sorted(out)


def pin_pairs() -> None:
    """Recompute ``data/sf0.1_pairs.json`` from the documents table."""
    pairs = reference_pairs(read_documents(), NEARDUP["shingle_size"], NEARDUP["threshold"])
    with open(PAIRS, "w") as f:
        json.dump(
            {
                "documents_sha256": _sha256(DOCUMENTS),
                "shingle_size": NEARDUP["shingle_size"],
                "threshold": NEARDUP["threshold"],
                "pairs": pairs,
            },
            f,
        )
    print(f"{len(pairs)} pairs -> {PAIRS}")


_BUILDERS = {
    "cdc_tail": _build_cdc_tail,
    "batch_ops": _build_batch_ops,
}


if __name__ == "__main__":
    if sys.argv[1:] != ["pin-pairs"]:
        sys.exit("usage: python3 perfbench/inputs.py pin-pairs")
    pin_pairs()
