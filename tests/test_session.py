"""Session conf confinement: ``session.tune`` declares the pinned
settings, every registered query runs it first, and nothing else in
the package writes a session conf — readers, query bodies and stream
drains leave the caller's session as they found it."""

from __future__ import annotations

import os
import re

from lab5_lakehouse_etl_spark import queries as Q
from lab5_lakehouse_etl_spark.session import TABLES, load_table, table_path, tune
from lab5_lakehouse_etl_spark.streaming.events import read_events_stream
from tests.conftest import SF_DIR, jobs_of

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lab5_lakehouse_etl_spark",
)


def test_readers_and_queries_leave_session_confs_unchanged(spark):
    """After ``tune``, loading every fixture table, opening the events
    stream and building q_tpch_q3, q_stream_merge (a drain) and
    q_tpch_q3 again leave every conf as it was, so no schema memoized
    by the loads is inferred again: both q_tpch_q3 builds run no job."""
    Q.load_all()
    s = spark.newSession()
    tune(s)
    before = s.conf.getAll
    for name in TABLES:
        load_table(s, SF_DIR, name)
    read_events_stream(s, table_path(SF_DIR, "events"))
    q3 = Q.QUERIES["q_tpch_q3"]
    first = jobs_of(s, lambda: q3(s, SF_DIR))
    Q.QUERIES["q_stream_merge"](s, SF_DIR)
    second = jobs_of(s, lambda: q3(s, SF_DIR))
    after = s.conf.getAll
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    assert changed == {}
    assert (first, second) == (0, 0)


def test_only_the_session_module_writes_confs():
    """``.conf.set(``/``.conf.unset(`` appear only in ``session.py``,
    and no query module calls ``tune(`` (the registry decorator does)."""
    writers, tuners = set(), set()
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                src = fh.read()
            rel = os.path.relpath(path, PKG)
            if re.search(r"\.conf\.(set|unset)\(", src):
                writers.add(rel)
            if rel.startswith("queries") and re.search(r"\btune\(", src):
                tuners.add(rel)
    assert writers == {"session.py"}
    assert tuners == {os.path.join("queries", "__init__.py")}
