"""Mid-micro-batch SIGKILL / restart soak for the streaming incremental
dedup (VERDICT r5 #2).

Proves the exactly-once design of ``dedup_incremental_stream_indexed`` with
a REAL kill — SIGKILL of the whole driver process group while foreachBatch
sinks are mid-write — not a simulated replay. The corpus is materialized
once as a ``dedup_index`` and the accepted sink holds the INDEX rows the
loop maintains, so the kill must also not corrupt index maintenance:

  1. clean run    -> work/clean/*   (single uninterrupted drain: ground truth)
  2. killed run   -> work/killed/*  (SIGKILL once >= KILL_AFTER batch
                     partitions exist in the output — lands between /
                     inside sink commits, before the checkpoint commit)
  3. restart run  -> same dirs + checkpoint (replays the in-flight batch,
                     drains the rest)
  4. verify       -> output and accepted-index state equal the clean run:
                     row count, per-batch_id counts, and an
                     order-independent value hash (decimal sum of xxhash64
                     over all columns — the round-5 batch soak protocol).

The comparison is exact because batch numbering is deterministic for the
same file listing (availableNow + maxFilesPerTrigger=1) and the processor
recomputes bit-identical results on replay (min-id aggregates, md5/LSH on
content) — see streaming/stream.py::indexed_dedup_processor.

Usage:  python tools/stream_kill_soak.py <workdir> [n_files] [docs_per_file]
"""
from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KILL_AFTER = 6  # SIGKILL once this many batch partitions have appeared

GEN = """\
import os, random
import pandas as pd
random.seed(1234)

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu").split()

def doc(rng, n=40):
    return " ".join(rng.choice(WORDS) for _ in range(n))

corpus_rng = random.Random(7)
corpus = [(i, doc(corpus_rng)) for i in range(50_000)]
os.makedirs({corpus_dir!r}, exist_ok=True)
pd.DataFrame(corpus, columns=["doc_id", "text"]).to_parquet(
    os.path.join({corpus_dir!r}, "corpus.parquet"), index=False)

# incoming: per file a deterministic mix of exact dups of the corpus,
# near dups (one word appended), dups of EARLIER incoming novels
# (cross-batch), and novels
os.makedirs({incoming_dir!r}, exist_ok=True)
rng = random.Random(99)
novel_pool = []
next_id = 1_000_000
for f in range({n_files}):
    rows = []
    for _ in range({per_file}):
        kind = rng.random()
        if kind < 0.25:
            rows.append((next_id, corpus[rng.randrange(len(corpus))][1]))
        elif kind < 0.40:
            rows.append((next_id,
                         corpus[rng.randrange(len(corpus))][1] + " extra"))
        elif kind < 0.55 and novel_pool:
            rows.append((next_id, novel_pool[rng.randrange(len(novel_pool))]))
        else:
            t = doc(rng)
            novel_pool.append(t)
            rows.append((next_id, t))
        next_id += 1
    # zero-padded name: deterministic listing order across runs
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join({incoming_dir!r}, "part-%04d.parquet" % f), index=False)
print("GEN_DONE", next_id - 1_000_000)
"""

STREAM = """\
import os, sys
sys.path.insert(0, {repo!r})
from doc_parser_spark.operators.dedup import dedup_index
from doc_parser_spark.session import get_spark
from doc_parser_spark.streaming.stream import dedup_incremental_stream_indexed
spark = get_spark(master="local[16]")
stream = (spark.readStream.schema("doc_id long, text string")
          .option("maxFilesPerTrigger", 1)
          .parquet({incoming_dir!r}))
index_path = {corpus_dir!r} + "_index"
if not os.path.isdir(index_path):
    dedup_index(
        spark.read.parquet({corpus_dir!r}), "doc_id", "text"
    ).write.parquet(index_path)
q = dedup_incremental_stream_indexed(
    stream,
    corpus_index_path=index_path,
    accepted_index_path={root!r} + "/accepted",
    output_path={root!r} + "/out",
    checkpoint_path={root!r} + "/ckpt",
)
q.awaitTermination()
print("STREAM_DONE")
spark.stop()
"""

VERIFY = """\
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from doc_parser_spark.session import get_spark
spark = get_spark(master="local[16]")

def fingerprint(path):
    df = spark.read.parquet(path)
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("<null>"))
                     for c in sorted(df.columns)])
    id_col = "doc_id" if "doc_id" in df.columns else "id"
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("hsum"),
        F.countDistinct(id_col).alias("nd"),
    ).first()
    batches = sorted((r["batch_id"], r["n"]) for r in
                     df.groupBy("batch_id").agg(F.count("*").alias("n"))
                     .collect())
    return (row["n"], row["nd"], row["hsum"]), batches

for sink in ("out", "accepted"):
    fp_c, b_c = fingerprint({clean!r} + "/" + sink)
    fp_k, b_k = fingerprint({killed!r} + "/" + sink)
    print("VERIFY", sink, "clean", fp_c)
    print("VERIFY", sink, "resumed", fp_k)
    assert fp_c == fp_k, sink + ": resumed state != clean state"
    assert b_c == b_k, sink + ": per-batch counts diverge"
    print("VERIFY", sink, "batches", len(b_c), "identical")
print("VERIFY_OK")
spark.stop()
"""


def _run(code: str, timeout: int = 3600) -> str:
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=timeout,
                       env=dict(os.environ, SPARK_DRIVER_MEM="16g"))
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit("subprocess failed")
    return p.stdout


def killed_run(root: str, corpus_dir: str, incoming_dir: str) -> int:
    """Start the stream in its own process group; SIGKILL the group once
    KILL_AFTER batch partitions exist in the output (a later batch's sink
    writes are then in flight)."""
    proc = subprocess.Popen(
        [sys.executable, "-c", STREAM.format(
            repo=REPO, root=root, corpus_dir=corpus_dir,
            incoming_dir=incoming_dir)],
        env=dict(os.environ, SPARK_DRIVER_MEM="16g"),
        start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    out = os.path.join(root, "out")
    deadline = time.time() + 1200
    while time.time() < deadline:
        if proc.poll() is not None:
            raise SystemExit("stream drained before the kill landed — "
                             "raise n_files")
        n = len([e for e in (os.listdir(out) if os.path.isdir(out) else [])
                 if e.startswith("batch_id=")])
        if n >= KILL_AFTER:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"  SIGKILL landed with {n} batch partitions committed",
                  flush=True)
            return n
        time.sleep(0.2)
    os.killpg(proc.pid, signal.SIGKILL)
    raise SystemExit("kill threshold never reached within 20 min")


def main() -> None:
    args = sys.argv[1:]
    work = args[0]
    n_files = int(args[1]) if len(args) > 1 else 24
    per_file = int(args[2]) if len(args) > 2 else 4000
    clean = os.path.join(work, "clean")
    killed = os.path.join(work, "killed")
    if os.path.isdir(killed):
        raise SystemExit(f"{killed} exists — point at a fresh workdir")
    corpus_dir = os.path.join(work, "corpus")
    incoming_dir = os.path.join(work, "incoming")
    os.makedirs(work, exist_ok=True)

    t0 = time.time()
    print("phase 0: generate corpus + incoming", flush=True)
    print("  " + _run(GEN.format(corpus_dir=corpus_dir,
                                 incoming_dir=incoming_dir,
                                 n_files=n_files, per_file=per_file),
                      timeout=600).strip(), flush=True)

    print("phase 1: clean reference drain", flush=True)
    os.makedirs(clean, exist_ok=True)
    _run(STREAM.format(repo=REPO, root=clean, corpus_dir=corpus_dir,
                       incoming_dir=incoming_dir))
    print("phase 2: killed drain", flush=True)
    os.makedirs(killed, exist_ok=True)
    killed_run(killed, corpus_dir, incoming_dir)
    print("phase 3: restart from checkpoint", flush=True)
    _run(STREAM.format(repo=REPO, root=killed, corpus_dir=corpus_dir,
                       incoming_dir=incoming_dir))
    print("phase 4: verify", flush=True)
    out = _run(VERIFY.format(repo=REPO, clean=clean, killed=killed))
    sys.stdout.write("\n".join(
        l for l in out.splitlines() if l.startswith("VERIFY")) + "\n")
    print(f"SOAK_OK total_wall_s={time.time() - t0:.0f}", flush=True)


if __name__ == "__main__":
    main()
