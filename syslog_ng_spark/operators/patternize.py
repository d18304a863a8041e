"""patternize — SLCT log pattern mining (template discovery).

Distributed re-expression of the reference's ``pdbtool patternize``
(modules/correlation/patternize.c, algorithms from Risto Vaarandi's SLCT
/ LogHound): mine the frequent message templates out of a log corpus and
emit PatternDB ``@ESTRING@`` rules for them. For an LLM training-data
pipeline this is the boilerplate/template-mining operator: cluster
machine-generated near-identical text by its constant skeleton before
dedup or sampling.

Semantics (parity with patternize.c, pinned by the ported
``test_patternize.c`` tables in tests/test_patternize.py):

- tokenize each message on a DELIMITER CHARACTER SET
  (``g_strsplit_set`` — every delimiter char splits, empty tokens
  between consecutive delimiters are kept, the empty message yields no
  tokens; patternize.c:137);
- a (position, word) pair is FREQUENT when it occurs in >= ``support``
  messages (ptz_find_frequent_words, patternize.c:100 — the two-pass
  hash-cache variant there is a single-node memory optimization that
  Spark's map-side partial aggregation replaces);
- each message maps to a CLUSTER KEY: per position, the frequent word
  itself or the parser-marker char, then the message's full delimiter
  sequence for unicity (patternize.c:256-290, PTZ_SEPARATOR_CHAR /
  PTZ_PARSER_MARKER_CHAR from patternize.h:34-35);
- a message is a cluster candidate iff it contains >= 1 frequent word;
  clusters below ``support`` members are dropped (patternize.c:325);
- each cluster renders a PatternDB pattern: literal frequent words with
  their per-position delimiter, ``@ESTRING::<delim>@`` for wildcard
  positions, the trailing wildcard dropped ("do not display last
  ESTRING", patternize.c:491-507), literal ``@`` doubled;
- ``iterate_outliers``: re-run on the lines that joined no surviving
  cluster with support = outliers * threshold%, until a round mines
  nothing (ptz_find_clusters, patternize.c:381-425).

Scale shape: two strategies produce identical output.

- ``broadcast`` (default when the frequent-word table fits
  ``max_broadcast_words``): the frequent set ships to executors once and
  a single Arrow-batched pandas UDF computes key/candidate/pattern per
  row — ZERO extra shuffle beyond the frequent-word count; the cluster
  aggregation shuffles one small (key, pattern) row per message.
- ``distributed`` (frequent table too big to broadcast): posexplode →
  left join the frequent table → regroup by row id. Token-stream-sized
  shuffle, no driver-side state — the escape hatch for
  pathological corpora (support so low that "frequent" words number in
  the tens of millions).

Divergences (documented): samples are the first ``num_samples`` lines
by ``id_col`` order, not daemon arrival order (a batch engine has no
arrival order); the PTZ_MAXWORDS=512 token cap is applied identically
(regex split limit).
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lineage import truncate_lineage

# patternize.h:34-38
SEPARATOR_CHAR = "\x1e"
PARSER_MARKER_CHAR = "\x1a"
MAXWORDS = 512  # patternize.c:41

# pdbtool.c:1144 default (space always included, pdbtool.c:1160-1166)
DEFAULT_DELIMITERS = " :&~?![]=,;()'\""


def _char_class(delimiters: str) -> str:
    """Regex character class matching any single delimiter char — the
    g_strsplit_set analogue (same syntax for Java, Python re and RE2)."""
    return "[" + re.sub(r"([\\\]\[^-])", r"\\\1", delimiters) + "]"


def _neg_char_class(delimiters: str) -> str:
    return "[^" + re.sub(r"([\\\]\[^-])", r"\\\1", delimiters) + "]"


def _split_tokens_py(msg: str, cc: re.Pattern) -> list[str]:
    # g_strsplit_set: the empty string yields an EMPTY vector
    if msg == "":
        return []
    return cc.split(msg, maxsplit=MAXWORDS - 1)


def _row_key_pattern(
    words: list[str], flags: list[bool], delims: str, named_parsers: bool
) -> tuple[str, bool, str]:
    """Shared core for both strategies: cluster key, candidate flag and
    rendered pattern for one tokenized message (patternize.c:261-290 key
    build + ptz_print_patterndb_rule:484-528 pattern build)."""
    n = len(words)
    key_parts: list[str] = []
    pat_parts: list[str] = []
    cand = False
    est_count = 0
    for j in range(n):
        d = delims[j] if j < len(delims) else ""
        if flags[j]:
            cand = True
            key_parts.append(f"{j} {words[j]}")
            lit = words[j].replace("@", "@@")
            pat_parts.append(lit + (d if j < n - 1 else ""))
        else:
            key_parts.append(f"{j} {PARSER_MARKER_CHAR}")
            if j < n - 1:  # last-position wildcard is dropped
                name = f".dict.string{est_count}" if named_parsers else ""
                est_count += 1 if named_parsers else 0
                pat_parts.append(f"@ESTRING:{name}:{d}@")
    key = "".join(p + SEPARATOR_CHAR for p in key_parts) + delims + SEPARATOR_CHAR
    return key, cand, "".join(pat_parts)


def find_frequent_words(
    df: DataFrame,
    support: int,
    delimiters: str = DEFAULT_DELIMITERS,
    msg_col: str = "text",
) -> DataFrame:
    """(position, word) pairs occurring in >= ``support`` messages —
    ptz_find_frequent_words (patternize.c:100). One groupBy with
    map-side partial aggregation; output is the heavy-hitter table."""
    cc = _char_class(delimiters)
    arr = F.when(F.col(msg_col) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.col(msg_col), cc, MAXWORDS)
    )
    # posexplode_OUTER: the non-outer variant triggers Catalyst's
    # InferFiltersFromGenerate, which re-inlines the split into a
    # pushed non-codegen filter — the tokenizer would run twice per
    # line (see operators/decontaminate.py). Empty messages emit one
    # null row; drop it on the generator OUTPUT (stays above the
    # Generate, evaluated on 2 small columns).
    return (
        df.select(F.posexplode_outer(arr).alias("pos", "word"))
        .filter(F.col("word").isNotNull())
        .groupBy("pos", "word")
        .count()
        .filter(F.col("count") >= F.lit(support))
        .select("pos", "word", F.col("count").alias("cnt"))
    )


def _assign_broadcast(
    df: DataFrame, freq: DataFrame, delimiters: str, msg_col: str, named_parsers: bool
) -> DataFrame:
    """Broadcast strategy: frequent set → executors, one pandas UDF pass."""
    freq_set = {(r["pos"], r["word"]) for r in freq.select("pos", "word").collect()}
    bc = df.sparkSession.sparkContext.broadcast(freq_set)
    cc = re.compile(_char_class(delimiters))
    ncc = re.compile(_neg_char_class(delimiters))

    @F.pandas_udf("key string, cand boolean, pattern string")
    def _mk(msgs: pd.Series) -> pd.DataFrame:
        fs = bc.value
        keys, cands, pats = [], [], []
        for m in msgs:
            m = "" if m is None else m
            words = _split_tokens_py(m, cc)
            delims = ncc.sub("", m)
            flags = [(j, w) in fs for j, w in enumerate(words)]
            k, c, p = _row_key_pattern(words, flags, delims, named_parsers)
            keys.append(k)
            cands.append(c)
            pats.append(p)
        return pd.DataFrame({"key": keys, "cand": cands, "pattern": pats})

    s = _mk(F.col(msg_col))
    return (
        df.withColumn("_ptz", s)
        .withColumn("ptz_key", F.col("_ptz.key"))
        .withColumn("ptz_candidate", F.col("_ptz.cand"))
        .withColumn("ptz_pattern", F.col("_ptz.pattern"))
        .drop("_ptz")
    )


def _assign_distributed(
    df: DataFrame,
    freq: DataFrame,
    delimiters: str,
    msg_col: str,
    named_parsers: bool,
    id_col: str,
) -> DataFrame:
    """Distributed strategy: explode → join frequent table → regroup by
    row id. No driver-side state; shuffle is the token stream (each
    message's text ships ONCE, attached to its position-0 token)."""
    cc = _char_class(delimiters)
    ncc = _neg_char_class(delimiters)
    arr = F.when(F.col(msg_col) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.col(msg_col), cc, MAXWORDS)
    )
    base = df.select(
        F.col(id_col).alias("_rid"),
        F.col(msg_col).alias("_msg"),
        F.regexp_replace(F.col(msg_col), ncc, "").alias("_delims"),
        F.posexplode_outer(arr).alias("_pos", "_word"),
    ).select(
        "_rid",
        "_pos",
        "_word",
        F.when(F.col("_pos").isNull() | (F.col("_pos") == 0), F.col("_msg")).alias("_msg0"),
        F.when(F.col("_pos").isNull() | (F.col("_pos") == 0), F.col("_delims")).alias("_delims0"),
    )
    joined = base.join(
        freq.select(F.col("pos").alias("_pos"), F.col("word").alias("_word"), F.lit(True).alias("_fq")),
        ["_pos", "_word"],
        "left",
    )
    grouped = joined.groupBy("_rid").agg(
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("_pos").isNotNull(),
                    F.struct(
                        F.col("_pos").alias("p"),
                        F.col("_word").alias("w"),
                        F.coalesce(F.col("_fq"), F.lit(False)).alias("f"),
                    ),
                )
            )
        ).alias("_toks"),
        F.first("_msg0", ignorenulls=True).alias("_msg"),
        F.first("_delims0", ignorenulls=True).alias("_dl"),
    )

    @F.pandas_udf("key string, cand boolean, pattern string")
    def _mk(toks: pd.Series, delims: pd.Series) -> pd.DataFrame:
        keys, cands, pats = [], [], []
        for tk, dl in zip(toks, delims):
            words = [t["w"] for t in tk]
            flags = [bool(t["f"]) for t in tk]
            k, c, p = _row_key_pattern(words, flags, "" if dl is None else dl, named_parsers)
            keys.append(k)
            cands.append(c)
            pats.append(p)
        return pd.DataFrame({"key": keys, "cand": cands, "pattern": pats})

    keyed = grouped.select(
        "_rid", "_msg", F.col("_dl"), _mk(F.col("_toks"), F.col("_dl")).alias("_ptz")
    ).select(
        F.col("_rid"),
        F.col("_msg"),
        F.col("_ptz.key").alias("ptz_key"),
        F.col("_ptz.cand").alias("ptz_candidate"),
        F.col("_ptz.pattern").alias("ptz_pattern"),
    )
    # re-attach the original row (co-partitioned join on the row id)
    out = df.join(
        keyed.select("_rid", "ptz_key", "ptz_candidate", "ptz_pattern"),
        df[id_col] == keyed["_rid"],
    ).drop("_rid")
    return out


def cluster_assignments(
    df: DataFrame,
    support: int,
    delimiters: str = DEFAULT_DELIMITERS,
    msg_col: str = "text",
    named_parsers: bool = False,
    strategy: str = "auto",
    max_broadcast_words: int = 2_000_000,
    id_col: str | None = None,
) -> DataFrame:
    """Per-row cluster key / candidate flag / rendered pattern columns
    (``ptz_key``, ``ptz_candidate``, ``ptz_pattern``). The building
    block under :func:`patternize`; exposed for tagging rows with their
    mined template (the reference tags via ``.in_patternize_cluster``,
    patternize.c:319)."""
    freq = find_frequent_words(df, support, delimiters, msg_col)
    persisted = False
    if strategy == "auto":
        # persist: the size probe and the chosen strategy both consume it
        freq = freq.persist()
        persisted = True
        n = freq.limit(max_broadcast_words + 1).count()
        strategy = "broadcast" if n <= max_broadcast_words else "distributed"
    if strategy == "broadcast":
        out = _assign_broadcast(df, freq, delimiters, msg_col, named_parsers)
        if persisted:
            freq.unpersist()  # _assign_broadcast collected it eagerly
        return out
    if strategy != "distributed":
        raise ValueError(f"unknown patternize strategy: {strategy!r}")
    if id_col is None:
        raise ValueError("strategy='distributed' needs a unique id_col for the regroup")
    return _assign_distributed(df, freq, delimiters, msg_col, named_parsers, id_col)


def _clusters_from_assignments(
    keyed: DataFrame, support: int, msg_col: str, num_samples: int, id_col: str | None
) -> DataFrame:
    cand = keyed.filter(F.col("ptz_candidate"))
    if num_samples > 0:
        order = F.col(id_col) if id_col else F.col(msg_col)
        w = Window.partitionBy("ptz_key").orderBy(order)
        cand = cand.withColumn("_rn", F.row_number().over(w))
        sample_agg = F.array_sort(
            F.collect_list(
                F.when(F.col("_rn") <= num_samples, F.struct(F.col("_rn").alias("i"), F.col(msg_col).alias("m")))
            )
        )
        agg = [
            F.count(F.lit(1)).alias("support"),
            F.first("ptz_pattern").alias("pattern"),
            F.transform(sample_agg, lambda s: s["m"]).alias("samples"),
        ]
    else:
        agg = [
            F.count(F.lit(1)).alias("support"),
            F.first("ptz_pattern").alias("pattern"),
            F.array().cast("array<string>").alias("samples"),
        ]
    return (
        cand.groupBy("ptz_key")
        .agg(*agg)
        .filter(F.col("support") >= F.lit(support))
        .select(F.col("ptz_key").alias("cluster_key"), "pattern", "support", "samples")
    )


def patternize(
    df: DataFrame,
    support: int | None = None,
    support_threshold: float = 4.0,
    delimiters: str = DEFAULT_DELIMITERS,
    msg_col: str = "text",
    num_samples: int = 1,
    named_parsers: bool = False,
    iterate_outliers: bool = False,
    strategy: str = "auto",
    max_broadcast_words: int = 2_000_000,
    id_col: str | None = None,
) -> DataFrame:
    """Mine frequent message templates — ``pdbtool patternize``
    (pdbtool.c:1147, defaults mirrored: support threshold 4% of lines,
    1 sample, delimiters pdbtool.c:1144).

    Returns a DataFrame of ``(cluster_key, pattern, support, samples)``:
    one row per mined template with its member count and up to
    ``num_samples`` example lines. ``support`` (absolute) overrides
    ``support_threshold`` (percent of input lines — the CLI's -S).

    ``iterate_outliers`` (the CLI's -o) loops on the lines that joined
    no surviving cluster, recomputing support as outliers × threshold%,
    until a round mines nothing; per-round lineage is cut via
    :func:`truncate_lineage` (reliable when the session has a checkpoint
    dir, ``localCheckpoint`` otherwise)."""
    # deduplicate the delimiter set and force the space in, pdbtool.c:1160
    seen = " "
    for ch in delimiters:
        if ch not in seen:
            seen += ch
    delimiters = seen

    if support is None or iterate_outliers:
        total = df.count()
        if support is None:
            support = int(total * (support_threshold / 100.0))

    def one_round(cur: DataFrame, sup: int) -> tuple[DataFrame, DataFrame]:
        keyed = cluster_assignments(
            cur, sup, delimiters, msg_col, named_parsers, strategy, max_broadcast_words, id_col
        )
        clusters = _clusters_from_assignments(keyed, sup, msg_col, num_samples, id_col)
        return keyed, clusters

    if not iterate_outliers:
        _, clusters = one_round(df, support)
        return clusters

    # PTZ_ITERATE_OUTLIERS (patternize.c:381-425)
    acc: DataFrame | None = None
    cur = df
    cur_support = support
    while True:
        keyed, clusters = one_round(cur, cur_support)
        clusters = truncate_lineage(clusters)
        if clusters.limit(1).count() == 0:
            if acc is None:
                acc = clusters  # empty frame with the right schema
            break
        acc = clusters if acc is None else acc.unionByName(clusters)
        # outliers: rows in no surviving cluster (non-candidates AND
        # members of dropped clusters — the reference clears the tag on
        # drop, patternize.c:204-209)
        cur = truncate_lineage(
            keyed.join(clusters.select(F.col("cluster_key").alias("ptz_key")), "ptz_key", "left_anti")
            .drop("ptz_key", "ptz_candidate", "ptz_pattern")
        )
        n = cur.count()
        cur_support = int(n * (support_threshold / 100.0))
        if n == 0:
            break
    return acc


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("'", "&apos;").replace('"', "&quot;")
    )


def clusters_to_patterndb_xml(
    rows, ruleset_name: str = "patternize", pub_date: str = "1970-01-01"
) -> str:
    """Render mined clusters as a PatternDB XML document —
    ptz_print_patterndb (patternize.c:556-577) — loadable by this
    engine's own XML loader (operators/patterndb.load_patterndb_xml) so
    mined rules immediately classify the corpus they came from. Rule ids
    are deterministic (content-derived), not random UUIDs: batch replays
    must be stable."""
    import hashlib  # noqa: PLC0415

    out = [f"<patterndb version='6' pub_date='{pub_date}'>"]
    out.append(f"  <ruleset name='{_xml_escape(ruleset_name)}' id='{ruleset_name}'>")
    out.append("    <rules>")
    for r in rows:
        # Spark Row and plain dicts both support name indexing (Row IS a
        # tuple subclass, so positional access would be ambiguous)
        pat = r["pattern"]
        sup = r["support"]
        try:
            samples = r["samples"] or []
        except (KeyError, ValueError):
            samples = []
        rid = hashlib.sha1(pat.encode("utf-8")).hexdigest()
        out.append(f"      <rule id='{rid}' class='system' provider='patternize'>")
        out.append(f"        <!-- support: {sup} -->")
        out.append("        <patterns>")
        out.append(f"          <pattern>{_xml_escape(pat)}</pattern>")
        out.append("        </patterns>")
        if samples:
            out.append("        <examples>")
            for s in samples:
                out.append("            <example>")
                out.append(
                    "                <test_message program='patternize'>"
                    f"{_xml_escape(s)}</test_message>"
                )
                out.append("            </example>")
            out.append("        </examples>")
        out.append("      </rule>")
    out.append("    </rules>")
    out.append("  </ruleset>")
    out.append("</patterndb>")
    return "\n".join(out)
