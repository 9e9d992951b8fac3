"""Seeded input generator for the perfbench workloads.

Every byte written depends only on (workload, seed, sizes): the same
arguments give identical files. A workload is made of parts, each with
its own generator, sizes and random stream. Only the Python standard library is
used, and every random draw comes from a `random.Random` seeded with a
string, whose seeding is stable across Python versions.

Layout written under `out_dir`, by part:

  landing        (landing_ingest)
    bucket/landing/dt=<date>/...   standing tree: data objects + decoys
    drops/drop-<n>/...             local drop folders the CLI uploads
  events         (landing_ingest)
    stream/events/slice-<n>.jsonl  event-time-ordered event slices
  curate         (neardup_curate)
    corpus/docs/part-<k>.jsonl     base documents + perturbed copies
    corpus/embeddings.jsonl        vectors with planted near-duplicates
  stream_docs    (neardup_curate)
    stream/base.jsonl              corpus the near-dup state is seeded with
    stream/docs/drop-<n>.jsonl     unseen documents, one file per step
  manifest.json                    per part: sizes and derived constants
"""

import datetime
import json
import math
import os
import random

# The 31-word vocabulary of the engine's `documents` test table: every
# word is frequent, so 3-word shingles carry the similarity signal.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "signup", "error"]
INT64_MAX = (1 << 63) - 1

SIZES = {
    "landing": {
        "dates": 50, "standing_per_date": 36, "decoys_per_date": 4,
        "drops": 80, "files_per_drop": 20, "rows_per_file": 25,
    },
    "events": {
        "slices": 80, "users": 300, "events_per_slice": 1000,
        "slice_seconds": 120,
    },
    "curate": {
        "base_docs": 250, "copies": 4, "min_words": 30, "max_words": 100,
        "exact_dup_share": 0.02, "shards": 4,
        "vectors": 500, "dim": 64, "labels": 10, "vector_dups": 25,
    },
    "stream_docs": {
        "base_docs": 300, "drops": 40, "docs_per_drop": 100,
        "dup_share": 0.2, "min_words": 30, "max_words": 100,
    },
}

# the parts each workload is made of
WORKLOADS = {
    "landing_ingest": ("landing", "events"),
    "neardup_curate": ("curate", "stream_docs"),
}


class GeneratorError(ValueError):
    """Raised when the requested inputs cannot be generated faithfully."""


def rng_for(seed, stream):
    return random.Random(f"perfbench:{seed}:{stream}")


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _jsonl(rows):
    return "".join(json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n"
                   for r in rows)


def random_text(rng, min_words, max_words):
    return " ".join(rng.choice(VOCAB)
                    for _ in range(rng.randint(min_words, max_words)))


def mutate_one_token(rng, text):
    """Replace exactly one token with a different vocabulary word."""
    words = text.split()
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in VOCAB if w != words[i].lower()])
    return " ".join(words)


def replicate_ids(ids, copies, id_max=INT64_MAX):
    """Shift keys for `copies` replicas of a source table.

    Copy k gets key + k * (max(key) + 1). Fails loudly on an empty
    source table and when the largest shifted key would not fit the
    key's dtype (signed 64-bit by default) instead of wrapping into
    colliding ids.
    """
    if not ids:
        raise GeneratorError("source table is empty: nothing to replicate")
    if min(ids) < 0:
        raise GeneratorError("negative keys cannot be shifted safely")
    if copies < 1:
        raise GeneratorError(f"copies must be >= 1, got {copies}")
    shift = max(ids) + 1
    largest = max(ids) + (copies - 1) * shift
    if largest > id_max:
        raise GeneratorError(
            f"shifted key {largest} overflows the key dtype (max {id_max})")
    return shift


# ---- landing ----------------------------------------------------------

def _csv_object(rng, first_id, rows):
    lines = ["id,user_id,amount_cents,tag"]
    for r in range(rows):
        lines.append(f"{first_id + r},{rng.randrange(1, 5000)},"
                     f"{rng.randrange(1, 1_000_000)},{rng.choice(VOCAB)}")
    return "\n".join(lines) + "\n"


def _decoys(rng, folder, n):
    """Objects a data-file regex must skip: temp parts, markers, logs."""
    kinds = ["part-{:05d}.csv.tmp", "_SUCCESS", "manifest.json",
             "part-{:05d}.jsonl", "part-{:05d}.csv.bak"]
    for d in range(n):
        name = kinds[d % len(kinds)].format(rng.randrange(100000))
        body = "" if name == "_SUCCESS" else json.dumps(
            {"decoy": d, "k": rng.randrange(1000)}) + "\n"
        _write(os.path.join(folder, name), body)


def gen_landing(seed, out_dir, s):
    rng = rng_for(seed, "landing")
    day0 = datetime.date(2024, 1, 1) + datetime.timedelta(
        days=rng.randrange(300))
    dates = [(day0 + datetime.timedelta(days=d)).isoformat()
             for d in range(s["dates"])]
    next_id = 1
    for date in dates:
        folder = os.path.join(out_dir, "bucket", "landing", f"dt={date}")
        for k in range(s["standing_per_date"]):
            sub = f"hist-{k % 3}"
            _write(os.path.join(folder, sub, f"part-{k:05d}.csv"),
                   _csv_object(rng, next_id, s["rows_per_file"]))
            next_id += s["rows_per_file"]
        _decoys(rng, folder, s["decoys_per_date"])
    drop_bytes = []
    for n in range(s["drops"]):
        folder = os.path.join(out_dir, "drops", f"drop-{n:06d}")
        size = 0
        for k in range(s["files_per_drop"]):
            body = _csv_object(rng, next_id, s["rows_per_file"])
            next_id += s["rows_per_file"]
            _write(os.path.join(folder, f"part-{k:05d}.csv"), body)
            size += len(body.encode())
        _decoys(rng, folder, 3)
        drop_bytes.append(size)
    return {"dates": dates, "drop_data_bytes": drop_bytes}


# ---- curate -----------------------------------------------------------

def gen_neardup(seed, out_dir, s):
    rng = rng_for(seed, "neardup")
    base = []
    for i in range(s["base_docs"]):
        if base and rng.random() < s["exact_dup_share"]:
            # exact duplicate up to case and surrounding whitespace, which
            # the content digest normalises away
            text = "  " + rng.choice(base)["text"].upper() + " "
        else:
            text = random_text(rng, s["min_words"], s["max_words"])
        base.append({"doc_id": i, "text": text, "lang": rng.choice(LANGS),
                     "source": f"src{rng.randrange(20)}"})
    shift = replicate_ids([d["doc_id"] for d in base], s["copies"])
    docs = []
    for k in range(s["copies"]):
        for d in base:
            text = d["text"] if k == 0 else mutate_one_token(rng, d["text"])
            docs.append({"doc_id": d["doc_id"] + k * shift, "text": text,
                         "lang": d["lang"], "source": d["source"],
                         "n_chars": len(text)})
    shards = s["shards"]
    for p in range(shards):
        _write(os.path.join(out_dir, "corpus", "docs", f"part-{p:05d}.jsonl"),
               _jsonl(docs[p::shards]))
    vecs = []
    originals = s["vectors"] - s["vector_dups"]
    for i in range(s["vectors"]):
        if i >= originals:
            # planted near-duplicate of an earlier vector
            src = vecs[rng.randrange(originals)]
            v = [x + rng.gauss(0, 0.01) for x in src["embedding"]]
            label = src["label"]
        else:
            # isotropic directions keep LSH bucket sizes, and so the
            # candidate volume, nearly the same for every seed
            label = rng.randrange(s["labels"])
            v = [rng.gauss(0, 1) for _ in range(s["dim"])]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append({"vec_id": i, "label": label,
                     "embedding": [round(x / norm, 6) for x in v]})
    _write(os.path.join(out_dir, "corpus", "embeddings.jsonl"), _jsonl(vecs))
    return {"shift": shift, "base_docs": len(base), "docs": len(docs)}


# ---- stream_docs ------------------------------------------------------

def gen_stream_docs(seed, out_dir, s):
    rng = rng_for(seed, "stream")
    base = [{"doc_id": i,
             "text": random_text(rng, s["min_words"], s["max_words"])}
            for i in range(s["base_docs"])]
    _write(os.path.join(out_dir, "stream", "base.jsonl"), _jsonl(base))
    seen = list(base)
    next_id = s["base_docs"]
    for n in range(s["drops"]):
        drop = []
        for _ in range(s["docs_per_drop"]):
            if rng.random() < s["dup_share"]:
                text = mutate_one_token(rng, rng.choice(seen)["text"])
            else:
                text = random_text(rng, s["min_words"], s["max_words"])
            drop.append({"doc_id": next_id, "text": text})
            next_id += 1
        seen.extend(drop)
        _write(os.path.join(out_dir, "stream", "docs", f"drop-{n:06d}.jsonl"),
               _jsonl(drop))
    return {"base_docs": len(base), "last_doc_id": next_id - 1}


# ---- events -----------------------------------------------------------

def gen_events(seed, out_dir, s):
    rng = rng_for(seed, "events")
    t0 = datetime.datetime(2024, 1, 1) + datetime.timedelta(
        days=rng.randrange(300))
    span_ms = s["slice_seconds"] * 1000
    for n in range(s["slices"]):
        offsets = sorted(rng.randrange(span_ms)
                         for _ in range(s["events_per_slice"]))
        rows = []
        for off in offsets:
            ts = t0 + datetime.timedelta(milliseconds=n * span_ms + off)
            rows.append({"user_id": rng.randrange(s["users"]),
                         "ts": ts.isoformat(sep=" ", timespec="milliseconds"),
                         "event_type": rng.choice(EVENT_TYPES),
                         "value": round(rng.random() * 200, 2)})
        _write(os.path.join(out_dir, "stream", "events",
                            f"slice-{n:06d}.jsonl"), _jsonl(rows))
    return {}


GENERATORS = {
    "landing": gen_landing,
    "events": gen_events,
    "curate": gen_neardup,
    "stream_docs": gen_stream_docs,
}


def generate(workload, seed, out_dir, sizes=None):
    """Write the inputs of every part of `workload` for `seed`; return
    the manifest. `sizes` maps a part to its sizes (default: SIZES)."""
    parts = {}
    for part in WORKLOADS[workload]:
        s = dict(SIZES[part] if sizes is None else sizes[part])
        parts[part] = {"sizes": s, **GENERATORS[part](seed, out_dir, s)}
    manifest = {"workload": workload, "seed": seed, "parts": parts}
    _write(os.path.join(out_dir, "manifest.json"),
           json.dumps(manifest, sort_keys=True, indent=1) + "\n")
    return manifest
