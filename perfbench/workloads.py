"""The benchmark's workloads: input generation, one batch pass through the
engine's public API, and an output check that does not reuse the code
it checks.

A workload object owns its generated input. ``run_pass`` executes one
closed-loop pass and returns what the pass produced; ``check`` compares
that output with expectations computed independently, before any timing,
and returns a list of problems (empty when the pass is correct).
tracing.py runs the same pass as named steps for the traced run.
"""

from __future__ import annotations

import os
import re
import shutil
import zlib
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syslog_ng_spark import datagen
from syslog_ng_spark.operators import dedup, grouping, parsers
from syslog_ng_spark.operators.enrich import add_contextual_data
from syslog_ng_spark.plans import LogPath, Pipeline
from syslog_ng_spark.sources import read_transcripts

import docgen

def noop(df: DataFrame) -> None:
    """Force ``df`` through Spark's ``noop`` sink: every row is computed
    and nothing is written."""
    df.write.format("noop").mode("overwrite").save()


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden/marker files."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


# --- etl_fanout ---------------------------------------------------------------

SINKS = ("security", "bash", "other", "archive")
SESSION_TIMEOUT_S = 60


_PRI = re.compile(r"<(\d{1,3})>", re.ASCII)
_RFC5424 = re.compile(r"<\d{1,3}>1 ", re.ASCII)
_CSV = re.compile(r"[\w-]+,\"", re.ASCII)


def route_rule(text: str, tool: str | None) -> str:
    """The first of the four paths' delivery rules that takes a row,
    written out by hand: ``security`` (severity <= 3 from the ``<PRI>``
    prefix) is final, ``bash`` is a normal path and ``other`` the
    fallback. ``archive``, the catch-all, takes every row as well."""
    m = _PRI.match(text or "")
    if m and int(m.group(1)) % 8 <= 3:
        return "security"
    return "bash" if tool == "bash" else "other"


def dialect(text: str) -> str:
    """How datagen.transcripts rendered the payload; ``edge`` covers its
    edge cases (no header, empty, multi-line, trigger phrase)."""
    text = text or ""
    if _RFC5424.match(text):
        return "rfc5424"
    if _PRI.match(text):
        return "rfc3164"
    for prefix, name in (("event=", "kv"), ("{", "json"), ("the ", "plain")):
        if text.startswith(prefix):
            return name
    return "csv" if _CSV.match(text) else "edge"


def checksum(table: dict) -> int:
    """Order-free checksum of the ``(conv_id, turn_idx, text)`` rows of a
    table read with pyarrow (``to_pydict``)."""
    return sum(
        zlib.crc32(f"{c}\x1f{i}\x1f{t}".encode())
        for c, i, t in zip(table["conv_id"], table["turn_idx"], table["text"])
    )


@dataclass
class EtlOutput:
    sink_dir: str
    egress: dict[str, int]  # path -> route_egress_total from metrics()
    session_rows: int  # sum of per-session turn counts
    sessions: int
    by_role_tool: dict[tuple, int]  # salted_agg result


def session_totals(sessions: DataFrame) -> tuple[int, int]:
    row = sessions.agg(F.sum("n").alias("rows"), F.count(F.lit(1)).alias("k")).first()
    return int(row["rows"] or 0), int(row["k"])


class EtlFanout:
    """The paper's full path over transcripts: read -> syslog_parser ->
    kv_parser -> add_contextual_data -> Pipeline.route over four paths ->
    write_sinks + metrics(), then the aggregate stage over the routed
    frame (sessionizing grouping_by with a timeout and a closing trigger,
    and salted_agg on (role, tool))."""

    name = "etl_fanout"

    def __init__(self, spark: SparkSession, work: str, seed: int, n_convs: int):
        self.work = work
        self.seed = seed
        self.n_convs = n_convs
        self.path = None
        self.bind(spark)

    def bind(self, spark: SparkSession) -> None:
        """Attach to a (new) session; the input stays where it is."""
        self.spark = spark
        self.ctx = spark.createDataFrame(
            [("sshd", "team", "auth"), ("sshd", "tier", "1"), ("nginx", "team", "web"),
             ("cron", "team", "ops"), ("kernel", "team", "core")],
            "selector string, name string, value string",
        )
        sev = F.col("pri") % 8
        self.pipeline = Pipeline([
            LogPath("security", sev <= 3, frozenset(["final"])),
            LogPath("bash", F.col("tool") == "bash"),
            LogPath("other", None, frozenset(["fallback"])),
            LogPath("archive", None, frozenset(["catchall"])),
        ])

    # input ------------------------------------------------------------------
    def generate(self) -> None:
        """Write the input, then read it back with pyarrow and compute the
        expectations in plain Python: the four route rules, the row
        checksum and the (role, tool) counts."""
        self.path = os.path.join(self.work, "transcripts")
        datagen.write_transcripts(
            self.spark, self.path, n_convs=self.n_convs, avg_turns=10,
            hot_convs=3, seed=self.seed, partitions=4,
        )
        t = pq.read_table(self.path, columns=["conv_id", "turn_idx", "role", "tool", "text"]).to_pydict()
        egress = Counter(route_rule(x, tool) for x, tool in zip(t["text"], t["tool"]))
        rows = len(t["text"])
        self.expect = {
            "rows": rows,
            "egress": {n: egress[n] for n in SINKS[:3]} | {"archive": rows},
            "checksum": checksum(t),
            "by_role_tool": dict(Counter(zip(t["role"], t["tool"]))),
        }
        self._input = t

    def fingerprint(self) -> dict:
        """Traffic properties of the input: dialect mix, syslog-header
        share and the share of rows in the three longest conversations."""
        t, rows = self._input, self.rows
        mix = {k: v / rows for k, v in Counter(dialect(x) for x in t["text"]).items()}
        top3 = sum(n for _c, n in Counter(t["conv_id"]).most_common(3))
        files, size = dir_size(self.path)
        return {
            "rows": rows,
            "files": files,
            "bytes": size,
            "text_bytes": sum(len(x or "") for x in t["text"]),
            "checksum": self.expect["checksum"],
            "dialect_mix": mix,
            "syslog_share": mix.get("rfc3164", 0) + mix.get("rfc5424", 0),
            "top3_conv_share": top3 / rows,
        }

    @property
    def rows(self) -> int:
        return self.expect["rows"]

    # pass -------------------------------------------------------------------
    def parsed(self) -> DataFrame:
        df = read_transcripts(self.spark, self.path)
        return parsers.kv_parser(parsers.syslog_parser(df), source="msg")

    def enriched(self) -> DataFrame:
        return add_contextual_data(self.parsed(), self.ctx, "program")

    def sessions(self, routed: DataFrame) -> DataFrame:
        return grouping.grouping_by(
            routed, ["conv_id"], {"n": grouping.context_length()},
            trigger=F.col("text") == "session closed", timeout=SESSION_TIMEOUT_S,
        )

    def salted(self, routed: DataFrame) -> DataFrame:
        return grouping.salted_agg(routed, ["role", "tool"], {"n": ("count", None)})

    def run_pass(self) -> EtlOutput:
        sink_dir = os.path.join(self.work, "sinks")
        routed = self.pipeline.route(self.enriched())
        try:
            routed.write_sinks(sink_dir)
            egress = {r["path"]: r["route_egress_total"] for r in routed.metrics().collect()}
            s_rows, s_count = session_totals(self.sessions(routed.df))
            by_rt = {(r["role"], r["tool"]): r["n"] for r in self.salted(routed.df).collect()}
        finally:
            routed.unpersist()
        return EtlOutput(sink_dir, egress, s_rows, s_count, by_rt)

    def check(self, out: EtlOutput) -> list[str]:
        exp = self.expect
        problems = []
        if out.egress != exp["egress"]:
            problems.append(f"route egress {out.egress} != rules {exp['egress']}")
        sink = lambda n, cols: pq.read_table(os.path.join(out.sink_dir, n), columns=cols)  # noqa: E731
        counts = {n: sink(n, []).num_rows for n in SINKS}
        if counts != out.egress:
            problems.append(f"sink read-back counts {counts} != egress {out.egress}")
        if checksum(sink("archive", ["conv_id", "turn_idx", "text"]).to_pydict()) != exp["checksum"]:
            problems.append("archive (conv_id, turn_idx, text) checksum differs from the input")
        if out.session_rows != exp["rows"]:
            problems.append(f"session sizes sum to {out.session_rows}, input has {exp['rows']} rows")
        if out.by_role_tool != exp["by_role_tool"]:
            problems.append("salted_agg differs from plain counts of (role, tool)")
        return problems

    def clear_output(self) -> None:
        shutil.rmtree(os.path.join(self.work, "sinks"), ignore_errors=True)


# --- neardup_dedup --------------------------------------------------------------

THRESHOLD = 0.7


@dataclass
class NeardupOutput:
    minhash_pairs: list[tuple[int, int, float]]
    kept: dict[int, int]  # doc_id -> component
    simhash_pairs: list[tuple[int, int, float]]


def components(pairs, ids) -> dict[int, int]:
    """Union-find over ``pairs``: id -> min id of its component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


class NeardupDedup:
    """Corpus curation: minhash_lsh -> dedup_keep_best (which runs
    connected_components) and simhash_near_dup, on the same documents."""

    name = "neardup_dedup"

    def __init__(self, spark: SparkSession, work: str, seed: int, n_docs: int):
        self.work = work
        self.seed = seed
        self.n_docs = n_docs
        self.bind(spark)

    def bind(self, spark: SparkSession) -> None:
        self.spark = spark

    def generate(self) -> None:
        self.corpus = docgen.generate(self.n_docs, self.seed)
        self.path = os.path.join(self.work, "docs")
        c = self.corpus
        # four parquet files written directly, without a Spark job
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        ids = sorted(c.texts)
        for part in range(4):
            mine = ids[part::4]
            pq.write_table(pa.table({
                "doc_id": pa.array(mine, pa.int64()),
                "text": pa.array([c.texts[i] for i in mine], pa.string()),
                "score": pa.array([c.scores[i] for i in mine], pa.float64()),
            }), os.path.join(self.path, f"part-{part}.parquet"))
        self.planted = c.planted_pairs()
        self.expect = {
            "rows": len(ids),
            "must_find": {(a, b) for a, b, j in self.planted if j >= THRESHOLD},
        }

    def fingerprint(self) -> dict:
        fp = self.corpus.fingerprint()
        files, size = dir_size(self.path)
        fp.update(files=files, bytes=size, threshold=THRESHOLD,
                  min_planted_jaccard=min((j for *_p, j in self.planted), default=None))
        return fp

    @property
    def rows(self) -> int:
        return self.expect["rows"]

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def run_pass(self) -> NeardupOutput:
        docs = self.docs()
        pairs = dedup.minhash_lsh(docs, threshold=THRESHOLD, eager=True)
        try:
            mp = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()]
            kept = {
                r["doc_id"]: r["component"]
                for r in dedup.dedup_keep_best(docs, pairs, "score").select("doc_id", "component").collect()
            }
            sp = [
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in dedup.simhash_near_dup(docs, threshold=THRESHOLD).collect()
            ]
        finally:
            self.spark.catalog.clearCache()
        return NeardupOutput(mp, kept, sp)

    def _check_pairs(self, label: str, pairs) -> list[str]:
        sh = self.corpus.shingles
        seen, problems = set(), []
        for a, b, j in pairs:
            if a not in sh or b not in sh or a >= b or (a, b) in seen:
                problems.append(f"{label}: malformed or repeated pair ({a}, {b})")
                continue
            seen.add((a, b))
            ref = docgen.jaccard(sh[a], sh[b])
            if ref < THRESHOLD or abs(ref - j) > 1e-9:
                problems.append(f"{label}: pair ({a}, {b}) reports {j:.4f}, Jaccard is {ref:.4f}")
        return problems[:5]

    def check(self, out: NeardupOutput) -> list[str]:
        problems = self._check_pairs("minhash_lsh", out.minhash_pairs)
        problems += self._check_pairs("simhash_near_dup", out.simhash_pairs)
        found = {(a, b) for a, b, _j in out.minhash_pairs}
        missed = self.expect["must_find"] - found
        if missed:
            problems.append(f"minhash_lsh missed {len(missed)} planted pairs, e.g. {sorted(missed)[:3]}")
        # keep-best: one row per component of the reported pairs, the one
        # with the highest score (lowest id on ties); every other doc kept
        scores = self.corpus.scores
        comp = components([(a, b) for a, b, _j in out.minhash_pairs], scores)
        members: dict[int, list[int]] = {}
        for i, c in comp.items():
            members.setdefault(c, []).append(i)
        want = {max(m, key=lambda i: (scores[i], -i)): c for c, m in members.items()}
        if out.kept != want:
            extra = len(set(out.kept) - set(want))
            lost = len(set(want) - set(out.kept))
            problems.append(
                f"dedup_keep_best kept {len(out.kept)} rows, expected {len(want)} "
                f"({extra} unexpected, {lost} missing, components differ: "
                f"{sum(out.kept.get(i) != c for i, c in want.items())})"
            )
        return problems

    def clear_output(self) -> None:
        pass
