"""Run plumbing shared by the workloads: the Spark session, the op
recorder, the table-file footprint, the DuckDB oracle and process RSS.

An *op* is one closed-loop request: the benchmark calls into the
package, waits for the answer, checks it, then sends the next. Only the
call is timed; checks run between ops, outside the timings.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from spans import Tracer


class OpFailed(RuntimeError):
    """An op raised or returned a wrong answer; the run stops there."""


@dataclass
class OpRecord:
    kind: str  # read | write
    name: str
    seconds: float
    unit: int  # index of the pass / batch / shard it ran in (0 = cold)
    rows: int
    sid: int | None  # its span when traced


class Ops:
    """Times ops, checks their answers and counts failures."""

    def __init__(self, tracer: Tracer | None):
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self.attempted = 0
        self.failed = 0
        self.unit = 0

    def op(self, kind: str, name: str, fn, check=None, rows: int = 0):
        """Run ``fn()`` as one op; ``check(result)`` returns an error
        string or None. Returns fn's result."""
        self.attempted += 1
        span = self.tracer.span(f"op.{name}", op=True) if self.tracer else nullcontext()
        try:
            with span as s:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception as e:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(f"{name}: {type(e).__name__}: {e}") from e
        self.records.append(OpRecord(kind, name, dt, self.unit, rows, s and s.sid))
        try:
            err = check(out) if check is not None else None
        except Exception as e:  # a check that cannot compare is a wrong answer
            traceback.print_exc(file=sys.stderr)
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            self.failed += 1
            raise OpFailed(f"{name}: wrong answer: {err}")
        return out

    def check(self, name: str, err: str | None) -> None:
        """A check that is not tied to one op (end-of-run invariants):
        it counts as one attempted op."""
        self.attempted += 1
        if err:
            self.failed += 1
            raise OpFailed(f"{name}: {err}")


class Footprint:
    """Every file that ever appears under the table locations: a
    listing after each write op, so files a later op deletes still
    count."""

    def __init__(self):
        self.roots: list[str] = []
        self.files: dict[str, int] = {}

    def add_root(self, path: str) -> None:
        self.roots.append(path)

    def scan(self) -> None:
        for root in self.roots:
            for d, _, names in os.walk(root):
                for n in names:
                    p = os.path.join(d, n)
                    try:
                        size = os.path.getsize(p)
                    except OSError:
                        continue
                    if size > self.files.get(p, -1):
                        self.files[p] = size

    @property
    def bytes(self) -> int:
        return sum(self.files.values())


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------- Spark


def start_spark(work: str, cores: int, event_log_dir: str | None):
    from databricks_data_warehouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system /tmp; the heap is committed
        # and touched up front, so peak RSS does not follow how far the
        # collector happened to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
        ),
    }
    if event_log_dir:
        # Spark 4.1 defaults would write a compressed rolling directory
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    and every process it started (Spark's Python workers) have ended."""
    from pyspark import SparkContext

    started = _descendants()
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)
    for p in started:
        if os.path.exists(f"/proc/{p}"):  # still running after 30 s
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and all its
    descendants: this Python process, the JVM and Spark's Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


# --------------------------------------------------------------- oracle


def load_check_oracle(root: str):
    """``scripts/check_oracle.py`` as a module: its order-insensitive
    ``compare`` is the repository's definition of an equal answer."""
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB twins (``__spark_entry__.oracle_sql()``) over one
    directory of generated parquet tables at a time."""

    def __init__(self, root: str, data_dir: str, tables):
        import duckdb

        self.cmp = load_check_oracle(root)
        self.sql = self.cmp.entry_mod.oracle_sql()
        self.con = duckdb.connect()
        # the twins run between ops, while Spark is idle
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        self.use_dir(data_dir, tables)

    def use_dir(self, data_dir: str, tables) -> None:
        for t in tables:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'"
            )
        self._answers = {}

    def answer(self, name: str):
        if name not in self._answers:
            self._answers[name] = self.con.execute(self.sql[name]).fetchdf()
        return self._answers[name]

    def compare(self, name: str, rows, columns) -> str | None:
        import pandas as pd

        got = pd.DataFrame([tuple(r) for r in rows], columns=columns)
        verdict = self.cmp.compare(name, got, self.answer(name))
        return None if verdict == "OK" else verdict

    def close(self) -> None:
        self.con.close()
