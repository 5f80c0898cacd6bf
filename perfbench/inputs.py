"""Seeded benchmark inputs.

* era corpora: gnosis era files written by ``testing.era_gen``, one worker
  process per file (at most ``nproc``), with the expected per-table row
  counts derived from the block documents the generator returns.
  Generating them is the load generator's job, not the system's, so it
  happens before any timing starts and is cached by (seed, shape).  Each
  corpus is written to a temporary directory and renamed into place, so an
  interrupted run never leaves a half-written corpus behind;
* the llm_ops tables: ``data/sf0.01`` holds byte copies of the sf0.01
  lineitem, documents and embeddings tables that the repository's own
  correctness tests read (TESTDATA.md); the seed only orders the mix.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import time

# gnosis fork boundaries in era numbers: altair 1, bellatrix 753, capella
# 1267, deneb 1738, electra 2613
ERA_INGEST_SHAPE = {
    # deneb -> electra straddle: every one of the 15 tables gets rows
    "eras": [2611, 2612, 2613, 2614],
    "blocks": 512,
}
LLM_TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
LLM_TABLES = ("lineitem", "documents", "embeddings")

# the list fields each normalized table explodes (one row per element);
# the three single-row tables are handled in _expected_rows
_LIST_TABLES = {
    "transactions": ("execution_payload", "transactions"),
    "withdrawals": ("execution_payload", "withdrawals"),
    "attestations": ("attestations",),
    "deposits": ("deposits",),
    "voluntary_exits": ("voluntary_exits",),
    "proposer_slashings": ("proposer_slashings",),
    "attester_slashings": ("attester_slashings",),
    "bls_changes": ("bls_to_execution_changes",),
    "blob_commitments": ("blob_kzg_commitments",),
    "deposit_requests": ("execution_requests", "deposits"),
    "withdrawal_requests": ("execution_requests", "withdrawals"),
    "consolidation_requests": ("execution_requests", "consolidations"),
}


def _shape_key(kind: str, shape: dict, seed: int) -> str:
    digest = hashlib.sha1(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:8]
    return f"{kind}-{digest}-s{seed}"


def _cached(cache_dir: str, key: str, build) -> str:
    """Directory of the cached input `key`, building it with build(tmp) if
    absent.  Keeps the few most recent inputs of the same kind."""
    final = os.path.join(cache_dir, key)
    if os.path.isdir(final):
        os.utime(final)
        return final
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final)
    kind = key.split("-")[0]
    entries = sorted(
        (
            os.path.join(cache_dir, e)
            for e in os.listdir(cache_dir)
            if e.startswith(f"{kind}-") and ".tmp" not in e
        ),
        key=os.path.getmtime,
    )
    for old in entries[:-6]:
        shutil.rmtree(old, ignore_errors=True)
    return final


def _expected_rows(docs: list[dict]) -> dict[str, int]:
    bodies = [d["message"]["body"] for d in docs]
    rows = {
        "blocks": len(docs),
        "sync_aggregates": sum("sync_aggregate" in b for b in bodies),
        "execution_payloads": sum("execution_payload" in b for b in bodies),
    }
    for table, path in _LIST_TABLES.items():
        n = 0
        for b in bodies:
            v = b
            for k in path:
                v = v.get(k) if isinstance(v, dict) else None
            n += len(v or ())
        rows[table] = n
    return rows


def _gen_era(args) -> dict:
    """One era file (worker process).  Returns its expected outputs."""
    from era_parser_spark.testing.era_gen import era_filename, write_synthetic_era

    out_dir, era, blocks, seed = args
    path = os.path.join(out_dir, era_filename("gnosis", era))
    docs = write_synthetic_era(path, era, "gnosis", blocks=blocks, seed=seed)
    return {
        "era": era,
        "blocks": len(docs),
        "bytes": os.path.getsize(path),
        "rows": _expected_rows(docs),
    }


def era_corpus(cache_dir: str, kind: str, shape: dict, seed: int, procs: int) -> str:
    """Era files under <dir>/era plus <dir>/expected.json; returns <dir>."""

    def build(tmp: str) -> None:
        era_dir = os.path.join(tmp, "era")
        os.makedirs(era_dir)
        jobs = [(era_dir, e, shape["blocks"], seed) for e in shape["eras"]]
        t0 = time.perf_counter()
        # fork is safe here: inputs are made before the session or any other
        # thread starts; spawn would leave a resource-tracker process running
        ctx = multiprocessing.get_context("fork")
        with ctx.Pool(max(1, min(procs, len(jobs)))) as pool:
            per_file = pool.map(_gen_era, jobs)
        rows: dict[str, int] = {}
        for f in per_file:
            for t, n in f["rows"].items():
                rows[t] = rows.get(t, 0) + n
        expected = {
            "files": len(per_file),
            "blocks": sum(f["blocks"] for f in per_file),
            "bytes": sum(f["bytes"] for f in per_file),
            "rows": rows,
            "eras": [f["era"] for f in per_file],
            "generate_s": time.perf_counter() - t0,
        }
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(expected, fh)

    return _cached(cache_dir, _shape_key(kind, shape, seed), build)


def load_expected(corpus_dir: str) -> dict:
    with open(os.path.join(corpus_dir, "expected.json")) as fh:
        return json.load(fh)
