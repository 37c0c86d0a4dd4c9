#!/usr/bin/env python3
"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of (workload, seed): the same seed
writes byte-identical files, a different seed writes different ones.
The program under test only ever sees these files.

    python3 perfbench/gen.py --workload meter_ingest --seed 1 --out DIR
    python3 perfbench/gen.py --check            # determinism self-check

Inputs per workload:
  meter_ingest   history.parquet (the half hour of RawData before the
                 first drop), drops/dNNNN/*.csv (one pulse CSV per site
                 in the FIXTURES.md B1 shape plus one bad-header file per
                 drop) and drops/dNNNN/expected_{good,bad}.parquet (what
                 the drop must leave in RawData and in the quarantine).
  offline_batch  documents/embeddings/events parquet in the fixture
                 layout, with seed-chosen exact and near duplicates.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes (recorded in perfbench/spec.json) ---------------------------------
INGEST = dict(sites=50, drops=16, drop_seconds=180, resend_seconds=18,
              bad_row_share=0.01, history_seconds=1800,
              start="2024-03-15 01:00:00")
OFFLINE = dict(documents=1500, embeddings=600, events=30000,
               exact_dup_share=0.15, near_dup_share=0.15)

WORDS = ("a the data spark table stream batch query scan join key value row "
         "column part line order sort hash group agg filter window merge "
         "vector fast slow big small water meter flow pulse site leak night "
         "day hour minute valve pipe tank pump").split()
LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

US = 1_000_000


def _ts(s):
    return int(np.datetime64(s.replace(" ", "T"), "us").astype(np.int64))


def _fmt(us):
    return str(np.datetime64(int(us), "us").astype("datetime64[s]")).replace("T", " ")


def _write(table, path):
    # no pandas metadata, fixed writer settings: bytes depend on data only
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _site_ids(n):
    # no leading zero: the B1 metadata regex's prefix class swallows zeros
    return [str(101 + i) for i in range(n)]


def _logger(site):
    return str(int(site) % 17 + 1)


# -- meter_ingest ---------------------------------------------------------------
_BAD_ROWS = ["{t},#", "{t},", "not_a_time,{p}", "{t};{p}", "{d} 25:61:00,{p}"]


def _history(rng, sites, t_start, seconds):
    n = len(sites)
    pulses = rng.poisson(2.0, size=(n, seconds)).astype(np.int64)
    times = t_start + np.arange(seconds, dtype=np.int64) * US
    return pa.table({
        "siteID": pa.array(np.repeat(np.array(sites), seconds)),
        "dataloggerID": pa.array(np.repeat(np.array([_logger(s) for s in sites]), seconds)),
        "meterID": pa.array(np.repeat(np.array(["1"] * n), seconds)),
        "time": pa.array(np.tile(times, n), pa.timestamp("us", tz="UTC")),
        "pulses": pa.array(pulses.reshape(-1)),
    })


def gen_meter_ingest(seed, out):
    rng = np.random.default_rng([seed, 2])
    sites = _site_ids(INGEST["sites"])
    first = _ts(INGEST["start"])
    hist_s = INGEST["history_seconds"]
    _write(_history(rng, sites, first - hist_s * US, hist_s),
           os.path.join(out, "history.parquet"))
    W, R = INGEST["drop_seconds"], INGEST["resend_seconds"]
    # one stable pulse series per site; a re-sent second repeats its value
    span = INGEST["drops"] * W
    series = rng.poisson(2.0, size=(len(sites), span))
    good_rows = bad_rows = 0
    for d in range(INGEST["drops"]):
        ddir = os.path.join(out, "drops", f"d{d:04d}")
        os.makedirs(ddir)
        lo = max(0, d * W - R)          # the overlap re-sends ~10% of points
        hi = (d + 1) * W
        g_site, g_dl, g_time, g_p = [], [], [], []
        b_file, b_line = [], []
        for si, s in enumerate(sites):
            dl = _logger(s)
            name = f"d{d:04d}_site{s}.csv"
            lines = [f"Site #: {s}", f"Datalogger: {dl}", "Meter: 1",
                     "Time,Pulses"]
            bad = rng.random(hi - lo) < INGEST["bad_row_share"]
            for k, sec in enumerate(range(lo, hi)):
                tus = first + sec * US
                t, p = _fmt(tus), int(series[si, sec])
                if bad[k]:
                    row = _BAD_ROWS[int(rng.integers(len(_BAD_ROWS)))].format(
                        t=t, p=p, d=t[:10])
                    b_file.append(name)
                    b_line.append(row)
                else:
                    row = f"{t},{p}"
                    g_site.append(s); g_dl.append(dl)
                    g_time.append(tus); g_p.append(p)
                lines.append(row)
            with open(os.path.join(ddir, name), "w") as f:
                f.write("\n".join(lines) + "\n")
        # one file per drop whose header carries no ids: every row is bad
        name = f"d{d:04d}_broken.csv"
        rows = [f"{_fmt(first + (d * W + k) * US)},{k % 5}" for k in range(10)]
        with open(os.path.join(ddir, name), "w") as f:
            f.write("\n".join(["Site unknown", "Datalogger unknown",
                               "Meter unknown", "Time,Pulses"] + rows) + "\n")
        b_file += [name] * len(rows)
        b_line += rows
        _write(pa.table({
            "siteID": pa.array(g_site, pa.string()),
            "dataloggerID": pa.array(g_dl, pa.string()),
            "time": pa.array(g_time, pa.timestamp("us", tz="UTC")),
            "pulses": pa.array(g_p, pa.int64())}),
            os.path.join(ddir, "expected_good.parquet"))
        _write(pa.table({"file": pa.array(b_file, pa.string()),
                         "raw_line": pa.array(b_line, pa.string())}),
               os.path.join(ddir, "expected_bad.parquet"))
        good_rows += len(g_site)
        bad_rows += len(b_line)
    with open(os.path.join(out, "ingest.json"), "w") as f:
        json.dump({"first": _fmt(first), "drop_seconds": W,
                   "drops": INGEST["drops"], "sites": sites}, f)
    return {"drops": INGEST["drops"], "files_per_drop": len(sites) + 1,
            "rows_per_drop": (good_rows + bad_rows) // INGEST["drops"],
            "history_rows": len(sites) * hist_s}


# -- offline_batch --------------------------------------------------------------
def _doc_text(rng):
    n = int(rng.integers(8, 90))
    return " ".join(WORDS[i] for i in rng.integers(len(WORDS), size=n))


def gen_offline_batch(seed, out):
    rng = np.random.default_rng([seed, 3])
    n = OFFLINE["documents"]
    texts = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < OFFLINE["exact_dup_share"]:
            texts.append(texts[int(rng.integers(i))])
        elif i > 10 and kinds[i] < OFFLINE["exact_dup_share"] + OFFLINE["near_dup_share"]:
            words = texts[int(rng.integers(i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % 10}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write(docs, os.path.join(out, "documents.parquet"))

    m, dim = OFFLINE["embeddings"], 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(10, size=m).astype(np.int32)
    vec = centers[label] + rng.normal(scale=1.5, size=(m, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label),
    })
    _write(emb, os.path.join(out, "embeddings.parquet"))

    e = OFFLINE["events"]
    t0 = _ts("2024-01-01 00:00:00")
    ts = np.sort(t0 + rng.integers(30 * 86400 * US, size=e))
    ev = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(max(2, e // 66), size=e).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=e)),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, size=e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=e)]),
    })
    _write(ev, os.path.join(out, "events.parquet"))
    return {"documents": n, "embeddings": m, "events": e}


GENERATORS = {"meter_ingest": gen_meter_ingest,
              "offline_batch": gen_offline_batch}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into the empty dir `out`;
    returns the input sizes."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)


def digest(root):
    """SHA-256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def check(scratch):
    """Same seed → byte-identical inputs; another seed → different ones."""
    ok = True
    for w in GENERATORS:
        d = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            out = os.path.join(scratch, f"{w}_{tag}")
            shutil.rmtree(out, ignore_errors=True)
            generate(w, seed, out)
            d[tag] = digest(out)
            shutil.rmtree(out)
        same, differ = d["a"] == d["b"], d["a"] != d["c"]
        ok &= same and differ
        print(f"{w}: same seed identical={same}, other seed differs={differ}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    if a.check:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        scratch = tempfile.mkdtemp(prefix="gencheck_", dir=here)
        try:
            sys.exit(0 if check(scratch) else 1)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(generate(a.workload, a.seed, a.out)))


if __name__ == "__main__":
    main()
