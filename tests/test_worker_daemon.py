"""Python workers fork from ``doc_parser_spark.daemon``.

``session.get_spark`` names the daemon in ``spark.python.daemon.module``
when the master is ``local`` or ``local-cluster``; any other master keeps
pyspark's stock daemon, which cannot import the package before a task
ships its ``--py-files``.
The daemon installs the lazy zip-cache invalidation, imports every module
whose functions run in workers and freezes the collector's view of that
heap before it forks its first worker, so even a worker's first task finds
that work done. The office payload builders that workers unpickle live
outside ``plans/``, so unpickling one does not import the driver-side query
module.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pytest
from pyspark import cloudpickle

from doc_parser_spark import session
from doc_parser_spark.daemon import PRELOAD

ROOT = Path(__file__).resolve().parents[1]
PKG = "doc_parser_spark"
SHIPS_CODE = ("map_rows(", ".mapInArrow(", ".mapInPandas(")


def test_worker_task_starts_from_the_preloaded_daemon(spark):
    preload = PRELOAD

    def report(batches):
        import gc
        import sys
        import zipimport

        for _ in batches:
            pass
        pkg = sys.modules.get("doc_parser_spark")
        yield pa.RecordBatch.from_pydict({
            "missing": [[m for m in preload if m not in sys.modules]],
            "frozen": [gc.get_freeze_count()],
            "zip_fix": [
                sys.version_info >= (3, 12)
                or pkg is not None
                and zipimport.zipimporter.invalidate_caches
                is pkg._zip_invalidate_caches
            ],
        })

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(
            report, schema="missing array<string>, frozen long, zip_fix boolean"
        )
        .collect()[0]
    )
    assert row.missing == []
    assert row.frozen > 0
    assert row.zip_fix


def test_preload_is_every_module_that_ships_worker_code():
    shipping = set()
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[1] != "plans" and any(k in path.read_text() for k in SHIPS_CODE):
            shipping.add(".".join(parts))
    assert {m for m in PRELOAD if m.startswith(f"{PKG}.")} == shipping


@pytest.mark.parametrize(
    "query",
    ["q_b9_docx_extract", "q_b8_xlsx_extract", "q_b10_pptx_extract",
     "q_b14_hwpx_extract"],
)
def test_office_builder_unpickles_without_the_query_module(query):
    from doc_parser_spark.plans import driver_queries

    q = getattr(driver_queries, query)
    closure = dict(
        zip(q.__code__.co_freevars, (c.cell_contents for c in q.__closure__))
    )
    loaded = subprocess.run(
        [sys.executable, "-c",
         "import pickle, sys; pickle.loads(sys.stdin.buffer.read()); "
         "print(' '.join(sorted(sys.modules)))"],
        input=cloudpickle.dumps(closure["builder"]),
        capture_output=True, check=True, cwd=ROOT, timeout=60,
    ).stdout.decode().split()
    assert f"{PKG}.sources.synth_office" in loaded
    assert [m for m in loaded if m.startswith(f"{PKG}.plans")] == []


class _RecordingBuilder:
    """A ``SparkSession.builder`` stand-in that records the confs it is given."""

    def __init__(self):
        self.conf = {}
        self.environment = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self.config("spark.master", master)

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(environment=self.environment)
        )


@pytest.mark.parametrize(
    "master, same_host",
    [("local[2]", True), ("local", True), ("local-cluster[2,1,1024]", True),
     ("spark://head:7077", False), ("k8s://https://api:6443", False),
     ("yarn", False)],
)
def test_daemon_is_set_only_for_a_same_host_master(monkeypatch, master, same_host):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark(master=master)
    assert builder.conf["spark.master"] == master
    if same_host:
        assert builder.conf["spark.python.daemon.module"] == "doc_parser_spark.daemon"
        assert builder.environment["PYTHONPATH"] == session.PACKAGE_ROOT
    else:
        assert "spark.python.daemon.module" not in builder.conf
        assert "PYTHONPATH" not in builder.environment
