"""keyed_stream: the reference topology as a closed-loop stream.

Keyed integer records (record i: key ``Key<k>`` with k drawn from the
seed, value ``str(i)``) are staged as equal-size parquet files before
any stream starts, then drained with ``max_files_per_trigger=1``. Each
pass runs two legs, one after the other, each from a fresh checkpoint
and output directory:

* chain: ``compile_pipeline`` (3 adders) -> ``exactly_once_parquet_sink``
  over the first ``CHAIN_FILES`` files;
* count: ``running_count`` -> ``upsert_parquet_sink(output_mode="update")``
  over the first ``COUNT_FILES`` files.

A count batch costs about four chain batches (state-store commit plus
the sink's read-modify-write), so the chain leg drains more files:
most latency samples come from it, and the count leg shows in
``pass_s`` and ``latency_geomean_ms`` (the geometric mean of the two
legs' median batch latencies).

``exactly_once_parquet_sink`` takes no output mode, so the running
count cannot be written through it; the count leg uses the upsert sink.

An operation is one micro-batch, timed by Spark from trigger to commit
(``triggerExecution``). The whole backlog exists before the stream
starts and the next batch starts only when the previous one has
committed, so no batch waits in a queue: the latency excludes queue
wait by design. After each pass, untimed, the outputs are read back
with pyarrow: every END value must equal i + 3 exactly once, and each
key's upserted count must equal its number of records.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYS = 8
RECORDS_PER_FILE = 2000
CHAIN_FILES = 12
COUNT_FILES = 3
ADDERS = 3


class KeyedStream:
    name = "keyed_stream"

    def __init__(self):
        self.keys: np.ndarray | None = None
        self.src = ""

    def prepare(self, h) -> None:
        from kafkastreamer_spark.plans.pipeline import compile_pipeline, from_dict  # noqa: PLC0415

        rng = np.random.default_rng(h.seed)
        self.keys = rng.integers(0, KEYS, max(CHAIN_FILES, COUNT_FILES) * RECORDS_PER_FILE)
        self.chain = compile_pipeline(from_dict({
            "stream_id": "perfbench",
            "partitions": 2,
            "replica": 1,
            "stages": [{"stage": i, "operation": "adder"} for i in range(ADDERS)],
        }))
        self.setups = 0

    def stage(self, h) -> dict[str, float]:
        """Write the backlog as parquet files, then warm up."""
        t0 = time.perf_counter()
        self.setups += 1
        self.src = os.path.join(h.work, f"backlog{self.setups}")
        for leg, n_files in (("chain", CHAIN_FILES), ("count", COUNT_FILES)):
            os.makedirs(os.path.join(self.src, leg))
            for f in range(n_files):
                lo = f * RECORDS_PER_FILE
                ids = range(lo, lo + RECORDS_PER_FILE)
                pq.write_table(
                    pa.table({
                        "key": [f"Key{k}" for k in self.keys[lo:lo + RECORDS_PER_FILE]],
                        "value": [str(i) for i in ids],
                    }),
                    os.path.join(self.src, leg, f"part-{f:05d}.parquet"),
                )
        t1 = time.perf_counter()
        h.spark.range(0, 1000, 1, h.cores).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return {"scan_s": t1 - t0, "warmup_s": t2 - t1}

    def run_pass(self, h, idx: int, rng: random.Random | None) -> dict:
        """Drain the backlog through both legs; check both outputs."""
        from kafkastreamer_spark.plans.topology_mode import RECORD_SCHEMA  # noqa: PLC0415
        from kafkastreamer_spark.streaming.core import (  # noqa: PLC0415
            exactly_once_parquet_sink,
            running_count,
            upsert_parquet_sink,
        )
        from kafkastreamer_spark.streaming.sources import file_source  # noqa: PLC0415

        root = os.path.join(h.work, f"pass{idx}")
        ops, failed, progress, query_ids = [], [], {}, []
        t_pass = 0.0
        for leg in ("chain", "count"):
            out, ckpt = os.path.join(root, leg, "out"), os.path.join(root, leg, "ckpt")
            src = file_source(h.spark, os.path.join(self.src, leg), RECORD_SCHEMA,
                              max_files_per_trigger=1)
            t0 = time.perf_counter()
            try:
                if leg == "chain":
                    q = exactly_once_parquet_sink(self.chain(src), out, ckpt)
                else:
                    q = upsert_parquet_sink(running_count(src), out, ["key"], "count",
                                            ckpt, output_mode="update")
                q.awaitTermination()
            except Exception as exc:  # noqa: BLE001 - a failed leg is a counted result
                failed.append(f"{leg}: {type(exc).__name__}: {exc}"[:300])
                continue
            t_pass += time.perf_counter() - t0
            query_ids.append(str(q.id))
            batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            progress[leg] = batches
            ops += [(leg, float(p["durationMs"]["triggerExecution"])) for p in batches]
            try:
                err = self._check(leg, out, len(batches))
            except (OSError, pa.ArrowException) as exc:
                err = f"unreadable output: {exc}"[:300]
            if err:
                failed.append(f"{leg}: {err}")
        shutil.rmtree(root, ignore_errors=True)
        h.release()
        return {"ops": ops, "failed": failed, "pass_s": t_pass,
                "layer": {"progress": progress, "query_ids": query_ids}}

    def verify(self, h) -> dict:
        """Every pass checks its own outputs; there is nothing left to verify."""
        return {"ops": [], "failed": []}

    def _check(self, leg: str, out: str, n_batches: int) -> str:
        n_files = CHAIN_FILES if leg == "chain" else COUNT_FILES
        n = n_files * RECORDS_PER_FILE
        if n_batches != n_files:
            return f"{n_batches} micro-batches for {n_files} files"
        if leg == "chain":
            t = _read(out, ["key", "value"])
            got = sorted(zip(map(int, t["value"].to_pylist()), t["key"].to_pylist()))
            want = sorted((i + ADDERS, f"Key{k}") for i, k in enumerate(self.keys[:n]))
            return "" if got == want else f"{len(got)} END records differ from i+{ADDERS}"
        t = _read(out, ["key", "count"])
        got = dict(zip(t["key"].to_pylist(), t["count"].to_pylist()))
        want = {f"Key{k}": c for k, c in Counter(self.keys[:n].tolist()).items()}
        if len(t) != len(got):
            return "a key was upserted more than once"
        return "" if got == want else "per-key counts differ from the input"


def _read(root: str, columns: list[str]) -> pa.Table:
    """Every data file under a sink's output directory, as one table."""
    parts = [
        pq.read_table(os.path.join(d, f), columns=columns)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    return pa.concat_tables(parts)
