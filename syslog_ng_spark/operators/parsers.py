"""Parsers: string columns → typed columns / name-value maps.

Re-expresses the reference's parser family (SURVEY.md §2.5) Spark-first:

- syslog header parse (RFC3164/RFC5424 auto-detect)  → native regexp columns
- csv-parser   → ``F.from_csv`` (JVM CSV reader handles quoting dialects)
- kv-parser    → ``regexp_extract_all`` + ``map_from_arrays`` (no UDF)
- json-parser  → ``from_json`` with schema; schemaless flatten-to-dotted-keys
                 via a vectorized Arrow UDF (dot-notation.c analogue)
- regexp-parser→ named-group regex → one column per group
- date-parser  → coalesce over try_to_timestamp formats
- PatternDB    → compiled ruleset, program-bucketed, applied vectorized
                 (radix.c analogue — see patterndb.py)
- group-lines  → sessionized multi-line reassembly

Parser failure semantics: the reference drops a message on the path where
a parser fails (parser-expr.h:37-61). Here each parser adds a boolean
``<prefix>_matched`` column so routing can filter — non-destructive,
single pass.
"""

from __future__ import annotations

import re as _re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import (
    TAG_INVALID_PRI,
    TAG_INVALID_PROGRAM,
    TAG_MISSING_HEADER,
    TAG_MISSING_HOSTNAME,
    TAG_MISSING_PRI,
    TAG_MISSING_TIMESTAMP,
)

# ---------------------------------------------------------------------------
# syslog header parser (modules/syslogformat/syslog-format.c:122-680 analogue)
# ---------------------------------------------------------------------------

# RFC3164: <PRI>MMM dd HH:MM:SS host program[pid]: message
# Shape notes mirroring modules/syslogformat/syslog-format.c:
# - an optional single space may follow <PRI> (test_syslog_format.c
#   rfc3164_check_program cases use '<189> Feb ...');
# - the HOSTNAME is only expected when a TIMESTAMP was parsed ("without
#   timestamp, host is not expected" — rfc3164_error_missing_timestamp),
#   hence the nested group;
# - the program[pid]: section is optional — the reference's 3164 parser
#   accepts any line, the remainder becomes MSG (laxness gated here by
#   ``require_header``);
# - PID is any run up to ']'/' '/':' (the reference does not require
#   digits — syslog-format.c:404); the typed pid column still casts to
#   int, non-numeric pids null out.
# The 3164 timestamp grammar accepted by the reference's scanner
# (lib/timeutils/scan-timestamp.c, pinned via lib/tests/test_msgparse.c):
# - BSD 'MMM d HH:MM:SS', optionally with a YEAR between day and time
#   (Cisco/PIX 'Apr 15 2007 21:28:13'), FRACTIONAL seconds, a leading
#   '*' or '.' (Cisco unsynced-clock markers), case-insensitive month;
# - ISO 8601 in the 3164 position, with 'T' or a space, optional
#   fraction and offset. A trailing ':' after the timestamp (PIX) is
#   consumed outside the capture.
_TS3164 = (
    r"[*.]?[A-Za-z]{3}\s{1,2}\d{1,2}(?:\s\d{4})?\s\d{2}:\d{2}:\d{2}(?:\.\d*)?(?:\s\d{4})?"
    r"|\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:[+-]\d{2}:?\d{2}|Z)?"
)
# Hostnames: the usual token charset (first — the common case, matched
# possessively so failures don't backtrack char-by-char) OR an IPv6
# literal (test_msgparse test_ip_in_host; tokens like '0002::' fail the
# first alternative at the following \s and fall through).
_HOST3164 = r"(?:[\w.\-]++(?=\s)|[0-9A-Fa-f]{0,4}(?::[0-9A-Fa-f]{0,4}){2,})"
_RFC3164 = (
    r"^(?:<(\d{1,3})> ?)?"  # 1 pri (optional → TAG_MISSING_PRI)
    rf"(?:({_TS3164}):?(?:\s++"  # 2 timestamp (+ optional PIX colon)
    rf"(?:({_HOST3164})\s++)?|$))?"  # 3 hostname (only after a timestamp)
    r"(?:([^\s:\[\]]++)"  # 4 program
    r"(?:\[([^\]\s:]*+)\])?"  # 5 pid
    r"(?::\s?|\s|$))?"  # reference: program needs no ':' — a bare
    #   token is still the program ('some message' → program='some')
    r"((?s:.*))$"  # 6 message
)

# LP_NO_HOSTNAME variant: no hostname slot at all — the first token
# after the date is the program and the REST is the message (a shared
# regex with an empty host group would still consume 'alma' as host in
# '<13>Jan  1 14:40:51 alma korte: message' and mis-split the msg)
_RFC3164_NOHOST = (
    r"^(?:<(\d{1,3})> ?)?"  # 1 pri
    rf"(?:({_TS3164}):?(?:\s++|$))?"  # 2 timestamp
    r"(?:([^\s:\[\]]++)"  # 3 program
    r"(?:\[([^\]\s:]*+)\])?"  # 4 pid
    r"(?::\s?|\s|$))?"
    r"((?s:.*))$"  # 5 message
)

# Cisco-style leading sequence number after PRI: '<189>65536: ...' →
# .SDATA.meta.sequenceId (syslog-format.c cisco_seqid handling)
_CISCO_SEQ = r"^(<\d{1,3}>)(\d+): ?"

# RFC5424: <PRI>VER TIMESTAMP HOST APP PID MSGID SDATA MSG
_RFC5424 = (
    r"^<(\d{1,3})>(\d+)\s"  # 1 pri, 2 version
    r"(\S+)\s(\S+)\s(\S+)\s(\S+)\s(\S+)\s"  # 3 ts, 4 host, 5 app, 6 pid, 7 msgid
    r"((?:\[(?:[^\]\\]|\\.)*\])+|-)"  # 8 sdata (\] escapes stay inside)
    r"(?:\s((?s:.*)))?$"  # 9 message
)

_SD_PAIR = r'([\w.@-]+)="((?:[^"\\]|\\.)*)"'


def _nullif_empty(c: Column) -> Column:
    return F.when(c == "", F.lit(None)).otherwise(c)


def syslog_parser(
    df: DataFrame,
    text_col: str = "text",
    prefix: str = "",
    default_pri: int = 13,  # user.notice — reference default when PRI missing
    year_hint_col: str = "ts",
    require_header: bool = True,
    flags: frozenset | set = frozenset(),
    bad_hostname: str | None = None,
) -> DataFrame:
    """Parse syslog headers out of ``text_col`` into typed columns.

    Adds: pri int, syslog_ts timestamp, host, program, pid int, msgid,
    sdata map<string,string>, msg, syslog_format ('rfc3164'|'rfc5424'|null),
    syslog_tags array<string> (LM_T_SYSLOG_* analogues), syslog_matched bool.

    All-native and **match-once**: each regex executes at most twice per
    row (rlike guard + a single ``regexp_replace`` that packs every capture
    group into one delimited string, unpacked with ``split``) instead of
    one full match per extracted group — at 17 groups that is an ~8×
    cut in regex work, and it keeps the projection small enough for
    whole-stage codegen. The RFC3164 year is inferred from
    ``year_hint_col`` (the reference uses wall clock — logmsg has no
    year either).

    ``require_header=True`` (default) only counts a row as matched when a
    PRI or syslog timestamp is present. The reference is laxer — its 3164
    parser accepts almost any line, tagging the missing pieces — set
    False for that behavior.

    ``flags`` mirrors the reference's parse flags (msg-format.h:37-63):
    ``no-parse`` (LP_NOPARSE — whole payload becomes msg, PRI default),
    ``no-hostname`` (LP_NO_HOSTNAME — the host token is absent; the first
    token after the date is the program), ``no-parse-date``
    (LP_NO_PARSE_DATE — leave syslog_ts null).

    ``bad_hostname``: regex (parse_options.bad_hostname) — a would-be
    3164 hostname matching it is NOT a hostname: it becomes the program
    and everything after it the message (test_msgparse hostname cases).

    sdata keys follow the reference naming ``.SDATA.<sd-id>.<param>``;
    values are unescaped (\\" \\\\ \\]). Timestamps accept the
    reference's full 3164 grammar (BSD with optional year / fraction /
    Cisco '*' marker / uppercase months, ISO with 'T' or space, overlong
    fractions truncated to microseconds — lib/timeutils scan-timestamp
    semantics, pinned by the ported test_msgparse table).

    Known limitation: a payload containing the 0x1E record-separator
    byte would corrupt group unpacking; the reference has no such byte
    in any test corpus.
    """
    flags = frozenset(flags)
    SEP = "\x1e"
    t = F.col(text_col)
    p = prefix
    if "no-parse" in flags or "no-header" in flags:
        if "no-parse" in flags:
            # LP_NOPARSE: framing only — everything is the message
            pri, msg = F.lit(default_pri), t
        else:
            # LP_NO_HEADER (msg-format.h): the PRI is parsed, nothing
            # else — everything after <PRI> is the message
            pri0 = F.regexp_extract(t, r"^<(\d{1,3})>", 1)
            pri = F.when(
                _nullif_empty(pri0).isNotNull(), pri0.cast("int")
            ).otherwise(F.lit(default_pri))
            msg = F.regexp_replace(t, r"^<\d{1,3}>", "")
        return (
            df.withColumn(p + "pri", pri)
            .withColumn(p + "syslog_ts", F.lit(None).cast("timestamp"))
            .withColumn(p + "host", F.lit(None).cast("string"))
            .withColumn(p + "program", F.lit(None).cast("string"))
            .withColumn(p + "pid", F.lit(None).cast("int"))
            .withColumn(p + "msgid", F.lit(None).cast("string"))
            .withColumn(p + "sdata", F.lit(None).cast("map<string,string>"))
            .withColumn(p + "msg", msg)
            .withColumn(p + "syslog_format", F.lit(None).cast("string"))
            .withColumn(p + "syslog_tags", F.array().cast("array<string>"))
            .withColumn(p + "syslog_matched", F.lit(True))
        )
    # Cisco sequence id: '<PRI>NNN: rest' → strip the seq token before
    # the main parse, surface it as .SDATA.meta.sequenceId. Materialized
    # as columns so the CASE + replace run once, not per downstream regex.
    df = df.withColumn("_syslog_seq", _nullif_empty(F.regexp_extract(t, _CISCO_SEQ, 2)))
    df = df.withColumn(
        "_syslog_src",
        F.when(
            F.col("_syslog_seq").isNotNull(), F.regexp_replace(t, _CISCO_SEQ, "$1")
        ).otherwise(t),
    )
    # 'Message forwarded from HOST:' prefix (AIX syslogd relays;
    # syslog-format.c handles it as the hostname) — normalize to a plain
    # host token before the main parse. The cheap contains() guard keeps
    # the heavy timestamp-prefixed regex off the hot path (it would
    # otherwise cost a full extra regex scan per row).
    df = df.withColumn(
        "_syslog_src",
        F.when(
            F.col("_syslog_src").contains("Message forwarded from "),
            F.regexp_replace(
                F.col("_syslog_src"),
                rf"^((?:<\d{{1,3}}> ?)?(?:{_TS3164}):?\s+)Message forwarded from ([\w.\-]+):\s+",
                "$1$2 ",
            ),
        ).otherwise(F.col("_syslog_src")),
    )
    raw_t = t
    t = F.col("_syslog_src")
    seq = F.col("_syslog_seq")

    is5424 = t.rlike(r"^<\d{1,3}>\d+\s")

    nohost = "no-hostname" in flags
    rx3 = _RFC3164_NOHOST if nohost else _RFC3164
    repl3 = SEP.join(f"${i}" for i in range(1, 6 if nohost else 7))
    repl5 = SEP.join(f"${i}" for i in range(1, 10))
    # MATERIALIZE the packed split as columns: host/program/pid/msg/ts
    # each sit under their own when(matched, ...) branch, and Spark does
    # no common-subexpression elimination under CASE WHEN — referencing
    # the split expression directly re-runs the FULL header regex once
    # per consumer (~5×/row; measured ~2× end-to-end on the parse-all
    # path). As columns the regex runs once and the consumers do cheap
    # element_at.
    df = (
        df.withColumn("_p3", F.split(F.regexp_replace(t, rx3, repl3), SEP, -1))
        .withColumn(
            "_p5",
            F.when(
                is5424, F.split(F.regexp_replace(t, _RFC5424, repl5), SEP, -1)
            ),
        )
    )
    parts3 = F.col("_p3")
    parts5 = F.col("_p5")
    # group i (1-based) — packed layout has exactly n_groups fields iff
    # matched; the NOHOST layout maps into the same slots with an empty
    # host (slot 3), so every consumer below is layout-agnostic
    if nohost:
        e3 = [F.element_at(parts3, i) for i in range(1, 6)]
        g3 = [None, e3[0], e3[1], F.lit(""), e3[2], e3[3], e3[4]]
    else:
        g3 = [None] + [F.element_at(parts3, i) for i in range(1, 7)]
    g5 = [None] + [F.element_at(parts5, i) for i in range(1, 10)]
    # materialize the raw ts token ONCE — the fraction/format branches
    # below reference it ~8×, and Spark does no CSE through the packed
    # regexp_replace (each reference would re-run the full 3164 regex)
    df = df.withColumn("_ts3_raw", F.element_at(parts3, 2))
    traw = F.col("_ts3_raw")
    # PRI is always the leading <N> in both formats — a tiny anchored
    # extract keeps the severity/facility routing path free of the full
    # group unpacking.
    pri_raw = F.regexp_extract(t, r"^<(\d{1,3})>", 1)
    # The 3164 grammar is fully optional (…the reference accepts any
    # line), so rlike(rx3) is CONSTANT TRUE — running it would burn a
    # full regex scan per row for nothing. The require_header gate ("a
    # PRI or a timestamp is present") stays INDEPENDENT of the packed
    # captures: an anchored timestamp rlike behind a short-circuiting
    # PRI check, so a routing plan that touches only pri/syslog_matched
    # prunes the packed regexp_replace away entirely (the codegen'd Or
    # skips the rlike on every '<PRI>' line).
    m3 = F.lit(True)
    if require_header:
        m3 = _nullif_empty(pri_raw).isNotNull() | t.rlike(rf"^(?:{_TS3164})")
    # 5424 match == the packed replace produced exactly 9 fields (the
    # regex is structural, unlike 3164) — no second full-regex scan
    m5 = F.coalesce(F.size(parts5) == 9, F.lit(False))

    matched = F.when(is5424, m5).otherwise(m3)
    fmt = F.when(is5424 & m5, F.lit("rfc5424")).when(
        ~is5424 & m3, F.lit("rfc3164")
    )

    pri = F.when(
        matched,
        F.when(_nullif_empty(pri_raw).isNotNull(), pri_raw.cast("int")).otherwise(
            F.lit(default_pri)
        ),
    )

    # BSD timestamps carry no year; hint from an event-time column when
    # present, else the wall clock (lib/timeutils/ — the reference's
    # assume-current-year behavior)
    year = (
        F.year(F.col(year_hint_col)).cast("string")
        if year_hint_col in df.columns
        else F.year(F.current_date()).cast("string")
    )
    # strip Cisco '*'/'.' marker, collapse runs of spaces, title-case the
    # month (Java MMM is case-sensitive; devices ship 'NOV 22 ...')
    base = F.regexp_replace(F.regexp_replace(traw, r"^[*.]", ""), r"\s+", " ")
    frac = F.regexp_extract(base, r"\.(\d*)", 1)
    micros = F.rpad(F.substring(frac, 1, 6), 6, "0").cast("int")
    nofrac = F.regexp_replace(base, r"\.\d*", "")
    bsd = F.concat(
        F.upper(F.substring(nofrac, 1, 1)),
        F.lower(F.substring(nofrac, 2, 2)),
        F.substring(nofrac, 4, 1 << 30),
    )
    iso = F.regexp_replace(nofrac, r"^(\d{4}-\d{2}-\d{2}) ", "$1T")
    ts3_sec = F.coalesce(
        F.try_to_timestamp(
            F.concat_ws(" ", year, bsd), F.lit("yyyy MMM d HH:mm:ss")
        ),
        F.try_to_timestamp(bsd, F.lit("MMM d yyyy HH:mm:ss")),
        F.try_to_timestamp(bsd, F.lit("MMM d HH:mm:ss yyyy")),  # linksys
        F.try_to_timestamp(iso, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(iso, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
    )
    ts3 = F.when(
        frac != "", F.timestamp_add("MICROSECOND", micros, ts3_sec)
    ).otherwise(ts3_sec)
    # overlong 5424 fractions truncate to microseconds (the reference
    # keeps the first digits; test_timestamp's 60-digit fraction case)
    t5 = F.regexp_replace(g5[3], r"(\.\d{6})\d+", "$1")
    ts5 = F.coalesce(
        F.try_to_timestamp(t5, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        F.try_to_timestamp(t5, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
        F.try_to_timestamp(t5, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
    )
    syslog_ts = F.when(matched, F.when(is5424, ts5).otherwise(ts3))
    if "no-parse-date" in flags:  # LP_NO_PARSE_DATE
        syslog_ts = F.lit(None).cast("timestamp")

    # (the NOHOST layout keeps g3[3] empty, so one shared expression
    # covers LP_NO_HOSTNAME: the first token lands in the program slot
    # and the remainder — including any would-be 'host word' — in msg)
    host = F.when(matched, _nullif_empty(F.when(is5424, F.nullif(g5[4], F.lit("-"))).otherwise(g3[3])))
    program = F.when(
        matched, _nullif_empty(F.when(is5424, F.nullif(g5[5], F.lit("-"))).otherwise(g3[4]))
    )
    pid = F.when(
        matched,
        F.when(is5424, F.nullif(g5[6], F.lit("-"))).otherwise(_nullif_empty(g3[5])),
    ).cast("int")
    msgid = F.when(matched & is5424, F.nullif(g5[7], F.lit("-")))

    sd = F.when(matched & is5424, F.nullif(g5[8], F.lit("-")))
    # reference SDATA naming: .SDATA.<sd-id>.<param> (logmsg.c
    # log_msg_set_value_by_name under the SDATA prefix); values decode
    # the RFC5424 escapes \" \\ \] — one map per [element], folded
    # left with LAST_WIN dedup (session conf)
    elements = F.regexp_extract_all(sd, F.lit(r"\[([^\]\\]*(?:\\.[^\]\\]*)*)\]"), 1)
    sdata = F.when(
        sd.isNotNull(),
        F.aggregate(
            elements,
            F.create_map().cast("map<string,string>"),
            lambda acc, e: F.map_concat(
                acc,
                F.map_from_arrays(
                    F.transform(
                        F.regexp_extract_all(e, F.lit(_SD_PAIR), 1),
                        lambda k: F.concat(
                            F.lit(".SDATA."),
                            F.regexp_extract(e, r"^(\S+)", 1),
                            F.lit("."),
                            k,
                        ),
                    ),
                    F.transform(
                        F.regexp_extract_all(e, F.lit(_SD_PAIR), 2),
                        lambda v: F.regexp_replace(v, r'\\([\\"\]])', "$1"),
                    ),
                ),
            ),
        ),
    )
    sdata = F.when(
        seq.isNotNull(), F.create_map(F.lit(".SDATA.meta.sequenceId"), seq)
    ).otherwise(sdata)
    # a leading BOM on the 5424 MSG part marks it as UTF-8 and is
    # stripped (RFC5424 §6.4, syslog-format.c)
    msg = F.when(
        matched,
        F.when(is5424, F.regexp_replace(g5[9], "^\uFEFF", "")).otherwise(g3[6]),
    )
    if bad_hostname is not None:
        # parse_options.bad_hostname: the token in hostname position
        # matching this regex is NOT a hostname — it is the program and
        # everything after it is the MSG
        bad = F.coalesce(
            matched & ~is5424 & host.isNotNull() & host.rlike(bad_hostname),
            F.lit(False),
        )
        after_host = F.regexp_replace(
            t,
            rf"^(?:<\d{{1,3}}> ?)?(?:(?:{_TS3164}):?\s+)?(?:{_HOST3164}\s+)?((?s:.*))$",
            "$1",
        )
        program = F.when(bad, host).otherwise(program)
        pid = F.when(bad, F.lit(None).cast("int")).otherwise(pid)
        msg = F.when(bad, after_host).otherwise(msg)
        host = F.when(bad, F.lit(None).cast("string")).otherwise(host)

    # LP_CHECK_PROGRAM (msg-format.h:63, syslog-format.c:356-400): the
    # program must be [A-Za-z0-9._()/-]+ AND contain at least one alpha
    # char; otherwise program/pid stay unset, the text from the program
    # token onward is the MSG, and the invalid-program tag is set.
    invalid_prog = F.lit(False)
    if "check-program" in flags:
        prog_ok = program.rlike(r"^[A-Za-z0-9._()/\-]*$") & program.rlike("[A-Za-z]")
        invalid_prog = (
            F.coalesce(matched & ~is5424 & program.isNotNull() & ~prog_ok, F.lit(False))
        )
        rest = F.regexp_replace(
            t,
            r"^(?:<\d{1,3}> ?)?"
            r"(?:[A-Z][a-z]{2}\s{1,2}\d{1,2}\s\d{2}:\d{2}:\d{2}\s"
            r"(?:[\w.\-]+\s)?)?((?s:.*))$",
            "$1",
        )
        program = F.when(~invalid_prog, program)
        pid = F.when(~invalid_prog, pid)
        msg = F.when(invalid_prog, rest).otherwise(msg)

    # error tags mirroring LM_T_SYSLOG_* (logmsg.h:107-143)
    bad_pri = raw_t.rlike(r"^<") & ~raw_t.rlike(r"^<\d{1,3}>")
    tags = F.when(
        matched,
        F.filter(
            F.array(
                F.when(_nullif_empty(pri_raw).isNull(), F.lit(TAG_MISSING_PRI)),
                F.when(bad_pri, F.lit(TAG_INVALID_PRI)),
                F.when(~is5424 & (g3[2] == ""), F.lit(TAG_MISSING_TIMESTAMP)),
                F.when(~is5424 & (g3[2] == ""), F.lit(TAG_MISSING_HEADER)),
                F.when(~is5424 & (g3[3] == ""), F.lit(TAG_MISSING_HOSTNAME)),
                F.when(invalid_prog, F.lit(TAG_INVALID_PROGRAM)),
            ),
            lambda x: x.isNotNull(),
        ),
    ).otherwise(F.array().cast("array<string>"))

    return (
        df.withColumn(p + "pri", pri)
        .withColumn(p + "syslog_ts", syslog_ts)
        .withColumn(p + "host", host)
        .withColumn(p + "program", program)
        .withColumn(p + "pid", pid)
        .withColumn(p + "msgid", msgid)
        .withColumn(p + "sdata", sdata)
        .withColumn(p + "msg", msg)
        .withColumn(p + "syslog_format", fmt)
        .withColumn(p + "syslog_tags", tags)
        .withColumn(p + "syslog_matched", F.coalesce(matched, F.lit(False)))
        .drop("_syslog_seq", "_syslog_src", "_ts3_raw", "_p3", "_p5")
    )


# ---------------------------------------------------------------------------
# csv-parser (lib/scanner/csv-scanner analogue)
# ---------------------------------------------------------------------------


# csv-scanner escape-backslash-with-sequences decode (csvscanner.c /
# lib/scanner/csv-scanner: \a\b\f\n\r\t\v + \xHH; an invalid hex escape
# drops the backslash and keeps the rest literal — test_csv_scanner.c
# escape_backslash_x_sequence_incorrect: '\x4Q' → 'x4Q')
_CSV_SEQ_RE = _re.compile(r"\\(x[0-9A-Fa-f]{2}|.|$)")
_CSV_SEQ = {"a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r",
            "t": "\t", "v": "\v"}


def _csv_decode_sequences(s: str) -> str:
    def rep(m):
        g = m.group(1)
        if len(g) == 3 and g.startswith("x"):
            return chr(int(g[1:], 16))
        return _CSV_SEQ.get(g, g)

    return _CSV_SEQ_RE.sub(rep, s)


def csv_parser(
    df: DataFrame,
    columns: list[str] | list[tuple[str, str]],
    source: str | Column = "text",
    delimiter: str = ",",
    quote: str = '"',
    escape: str | None = None,
    null_value: str | None = None,
    prefix: str = "",
    greedy: bool = False,
    strip_whitespace: bool = False,
    dialect: str | None = None,
) -> DataFrame:
    r"""Split ``source`` into named typed columns via the JVM CSV reader.

    ``columns``: names or (name, sparkType) pairs; type hints mirror
    csvparser.c:177-252. ``greedy``: last column swallows the rest of the
    line. Adds ``<prefix><name>`` columns + ``<prefix>csv_matched``.

    ``dialect`` names the reference's quote dialects
    (csv-scanner.h CSVScannerDialect):
    - 'escape-none'          — no escape character inside quotes;
    - 'escape-double-char'   — '""' inside a quoted field is a quote
                               (the JVM reader's native behavior);
    - 'escape-backslash'     — backslash escapes the next char, which is
                               kept literal ('\n' → 'n');
    - 'escape-backslash-with-sequences' — C-string decode of
      \a\b\f\n\r\t\v and \xHH; invalid hex drops the backslash.
      Corner divergence: the tokenizer collapses a doubled backslash
      before the sequence pass, so a literal backslash directly before a
      sequence letter decodes as the sequence (not in the reference's
      test set).
    """
    post = None
    if dialect is not None:
        if dialect == "escape-double-char":
            escape = '"'  # univocity: quoteEscape == quote → '""' is '"'
        elif dialect == "escape-none":
            escape = "\x01"  # unused char: no escaping inside quotes
        elif dialect == "escape-backslash":
            escape = escape or "\\"
            post = "drop"
        elif dialect == "escape-backslash-with-sequences":
            escape = escape or "\\"
            post = "sequences"
        else:
            raise ValueError(f"unknown csv dialect {dialect!r}")
    names = [(c, "string") if isinstance(c, str) else c for c in columns]
    src = F.col(source) if isinstance(source, str) else source

    if greedy:
        # parse n-1 columns normally; greedy tail = remainder after n-1 seps
        head = names[:-1]
        gname, gtype = names[-1]
        schema_str = ", ".join(f"`{n}` string" for n, _ in head)
        opts = {"sep": delimiter, "quote": quote}
        if escape:
            opts["escape"] = escape
        parsed = F.from_csv(src, schema_str, opts) if head else None
        out = df
        for n, typ in head:
            c = parsed[n]
            if strip_whitespace:
                c = F.trim(c)
            out = out.withColumn(prefix + n, c.cast(typ))
        # greedy tail = remainder after n-1 DIALECT-AWARE fields: a quoted
        # head field containing the delimiter must not shift the split
        # (csv-scanner greedy semantics). One anchored regex consumes n-1
        # quoted-or-bare fields + separators and captures the rest.
        q = _re.escape(quote)
        d = _re.escape(delimiter)
        if escape:
            inner = f"(?:[^{q}{_re.escape(escape)}]|{_re.escape(escape)}.)*"
        else:
            inner = f"(?:[^{q}]|{q}{q})*"  # doubled-quote escaping
        fld = f"(?:{q}{inner}{q}|[^{d}]*)"
        tail_pat = f"^(?:{fld}{d}){{{len(names) - 1}}}(.*)$"
        tail = F.regexp_extract(src, tail_pat, 1)
        if strip_whitespace:
            tail = F.trim(tail)
        out = out.withColumn(prefix + gname, tail.cast(gtype))
        matched = F.lit(True)
        for n, _ in head:
            matched = matched & F.col(f"`{prefix + n}`").isNotNull()
        return out.withColumn(prefix + "csv_matched", matched)

    schema_str = ", ".join(f"`{n}` {t}" for n, t in names)
    opts = {"sep": delimiter, "quote": quote, "mode": "PERMISSIVE"}
    if escape is not None:
        opts["escape"] = escape
    restore_escaped = False
    if escape == "\\":
        # The JVM CSV reader's `escape` only covers quotes; the reference's
        # backslash dialect (CSV_SCANNER_ESCAPE_BACKSLASH) also escapes the
        # delimiter in unquoted fields — emulate by masking `\<delim>`
        # with a sentinel and restoring it per column. (Only meaningful
        # for the backslash dialects — a quote-char escape must not mask.)
        src = F.regexp_replace(
            src, _re.escape(escape) + _re.escape(delimiter), "\x00"
        )
        restore_escaped = True
    if null_value is not None:
        opts["nullValue"] = null_value
    parsed = F.from_csv(src, schema_str, opts)
    out = df.withColumn("_csv_struct", parsed)
    matched = F.lit(True)
    if post == "sequences":
        @F.pandas_udf(T.StringType())
        def _seqdec(col: pd.Series) -> pd.Series:
            return col.map(lambda v: _csv_decode_sequences(v) if v is not None else None)
    for n, _t in names:
        c = F.col("_csv_struct")[n]
        if restore_escaped:
            c = F.regexp_replace(c.cast("string"), "\x00", delimiter).cast(_t)
        if post == "drop":
            c = F.regexp_replace(c.cast("string"), r"\\(.)", "$1").cast(_t)
        elif post == "sequences":
            c = _seqdec(c.cast("string")).cast(_t)
        if strip_whitespace:
            c = F.when(c.isNotNull(), F.trim(c.cast("string")).cast(_t)).otherwise(c)
        out = out.withColumn(prefix + n, c)
    # matched = the row yielded at least the first column
    first = names[0][0]
    matched = F.col(f"`{prefix + first}`").isNotNull()
    return out.drop("_csv_struct").withColumn(prefix + "csv_matched", matched)


# ---------------------------------------------------------------------------
# kv-parser (lib/scanner/kv-scanner analogue) — zero-UDF
# ---------------------------------------------------------------------------


# kv-scanner C-string escape decode for QUOTED values: known escapes
# decode, unknown "\p" stays literal (kv-scanner.c _decode_backslash_escape
# — exercised by test_kv_scanner.c quoted_values_are_unquoted_like_c_strings)
_KV_ESCAPES = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
               "\\": "\\", '"': '"', "'": "'"}
_KV_ESC_RE = _re.compile(r"\\(.)")


def _kv_unescape(inner: str) -> str:
    return _KV_ESC_RE.sub(
        lambda m: _KV_ESCAPES.get(m.group(1), "\\" + m.group(1)), inner
    )


def _kv_pattern(value_separator: str, pair_separator: str) -> str:
    """The kv-scanner grammar as ONE regex (semantics pinned by
    lib/scanner/kv-scanner/tests/test_kv_scanner.c, re-expressed in
    tests/test_parsers.py's table):

    - keys use the restricted [A-Za-z0-9_-] set; spaces around the value
      separator are trimmed ('foo =  bar' → foo=bar);
    - quoted values ("..."/'...') may span anything and are C-string
      unescaped afterwards; an unterminated quote falls back to unquoted
      semantics with the quote char kept literal;
    - UNQUOTED values keep embedded spaces and run until the exact
      pair-separator string, the next 'key=' token, or end of input
      ('space is only a delimiter if a key follows'), with trailing
      whitespace trimmed — except when the pair separator is a single
      space, which disables the embedded-space heuristic (values end at
      whitespace; the reference's with_separators config case).
    """
    vs = _re.escape(value_separator)
    key = r"[A-Za-z0-9_\-]+"
    if pair_separator == " ":
        # single-space separator: the space IS the pair boundary, so the
        # embedded-space heuristic AND value-leading-space trim are off
        # ('foo= bar' -> foo='' + stray bar) — with_separators C case
        return (
            rf"({key})[ ]*{vs}"
            rf"(\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'|[^\s]*)"
        )
    else:
        sep = _re.escape(pair_separator)
        # tempered greedy: consume while not at the exact separator
        # (optionally space-padded), not before the next key=, not at
        # trailing SPACES before end — literal ' ' only: tabs survive
        # ('k=\t' keeps its tab in the C table, trailing blanks don't)
        unq = rf"(?:(?![ ]*{sep}|[ ]+{key}[ ]*{vs}|[ ]+$).)*"
    # value-leading spaces are skipped ONLY when what follows is a real
    # value — not end-of-string, not the next key, not the pair
    # separator (kv-scanner.c _skip_initial_spaces: a space whose
    # remainder is a delimiter terminates the value instead, so
    # 'empty= n=42' yields empty='' + n=42 while ' k= b' yields b)
    skip = rf"(?:(?!{sep})[ ]+(?=\S)(?!{key}[ ]*{vs})(?!{sep}))?"
    return (
        rf"({key})[ ]*{vs}{skip}"
        rf"(\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*'|{unq})"
    )


def kv_parser(
    df: DataFrame,
    source: str | Column = "text",
    value_separator: str = "=",
    pair_separator: str = ", ",
    prefix: str = "",
    target: str = "kv",
) -> DataFrame:
    """Extract ``k=v`` pairs into a map column — kv-scanner semantics
    (lib/scanner/kv-scanner/kv-scanner.c, edge cases pinned against its
    own C test table): quoted values with C-string unescaping, unquoted
    values keeping embedded spaces until the next key or separator,
    space-trimmed separators, restricted key charset. A repeated key
    overwrites (last wins). Adds ``<target>`` map<string,string> +
    ``<target>_matched``.

    One vectorized Arrow UDF with a precompiled regex — measured 3.4×
    faster than a pure-column ``regexp_extract_all`` formulation, which
    pays two full scans plus heavy per-match string churn (PLANS.md
    item 2).
    """
    creg = _re.compile(_kv_pattern(value_separator, pair_separator))
    src = F.col(source) if isinstance(source, str) else source

    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def scan(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            out = {}
            for k, v in creg.findall(t):
                if v[:1] in ('"', "'") and v[-1:] == v[:1] and len(v) >= 2:
                    v = _kv_unescape(v[1:-1])
                else:
                    v = v.rstrip(" ")
                out[prefix + k] = v
            return out

        return s.map(one)

    return df.withColumn(target, scan(src)).withColumn(
        target + "_matched", F.size(F.col(target)) > 0
    )


def kv_get(target: str, key: str) -> Column:
    return F.element_at(F.col(target), key)


# ---------------------------------------------------------------------------
# json-parser (modules/json/json-parser.c analogue)
# ---------------------------------------------------------------------------


def json_parser(
    df: DataFrame,
    source: str | Column = "text",
    schema: str | T.StructType | None = None,
    prefix: str = "",
    target: str = "json",
    marker: str | None = None,
    extract_prefix: str | None = None,
    key_delimiter: str = ".",
) -> DataFrame:
    """Parse JSON from ``source``.

    With ``schema``: native ``from_json`` into a struct column ``target``
    (fast path — use whenever the shape is known; Catalyst prunes unused
    fields from the parse).
    Without: schemaless flatten to dotted keys → map<string,string>
    (dot-notation.c analogue) via a vectorized Arrow UDF — the one spot
    where built-ins can't express "arbitrary nesting to dotted keys".
    ``marker``: only parse payloads starting with the marker (e.g. '@cim:'),
    mirroring json-parser's marker option.
    """
    src = F.col(source) if isinstance(source, str) else source
    if marker:
        payload = F.when(
            src.startswith(marker), F.expr(f"substring({source}, {len(marker) + 1})")
        )
    else:
        payload = src

    if schema is not None:
        parsed = F.from_json(payload, schema)
        out = df.withColumn(target, parsed)
        return out.withColumn(target + "_matched", F.col(target).isNotNull())

    flat = _flatten_json_udf(key_delimiter, prefix, extract_prefix)
    out = df.withColumn(target, flat(payload))
    return out.withColumn(target + "_matched", F.col(target).isNotNull())


def _compile_dot_notation(s: str):
    """modules/json/dot-notation.c grammar: '.'-separated member refs
    (any printable chars except '.[]' — '123' and 'foo bar' are valid
    member names) and attached '[N]' array refs ('foo[0][2]'); a
    detached array ref ('foo.[0]') or trailing junk ('foo[1]bar') is a
    compile error. Returns a list of ('member', name) / ('idx', i), or
    None on compile failure."""
    parts = []
    last = 0
    for i, ch in enumerate(s):
        if ch == ".":
            parts.append(s[last:i])
            last = i + 1
        elif ch == "[":
            parts.append(s[last:i])
            last = i
    parts.append(s[last:])
    elems = []
    for j, lvl in enumerate(parts):
        if j == 0 and lvl == "":
            continue
        if lvl.startswith("["):
            m = _re.fullmatch(r"\[(\d+)\]", lvl)
            if m is None:
                return None
            elems.append(("idx", int(m.group(1))))
        else:
            if lvl == "" or any((not c.isprintable()) or c in ".[]" for c in lvl):
                return None
            elems.append(("member", lvl))
    return elems


def _dot_notation_eval(obj, elems):
    """Walk the compiled subscript; None (a sentinel object, since JSON
    null is a valid value) on any miss."""
    for kind, v in elems:
        if kind == "member":
            if not isinstance(obj, dict) or v not in obj:
                return _DOT_MISS
            obj = obj[v]
        else:
            if not isinstance(obj, list) or v >= len(obj):
                return _DOT_MISS
            obj = obj[v]
    return obj


_DOT_MISS = object()


def _flatten_json_udf(key_delimiter: str, prefix: str, extract_prefix: str | None):
    compiled_ep = _compile_dot_notation(extract_prefix) if extract_prefix else None

    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def flatten(s: pd.Series) -> pd.Series:
        import json  # noqa: PLC0415

        from ..functions.templates import _list_encode_py  # noqa: PLC0415

        def scalar(v):
            if isinstance(v, bool):
                return "true" if v else "false"
            if v is None:
                return ""
            return str(v)

        def compact(v):
            return json.dumps(v, separators=(",", ":"))

        def one(txt):
            if txt is None:
                return None
            try:
                obj = json.loads(txt)
            except (ValueError, TypeError):
                return None
            if extract_prefix:
                if compiled_ep is None:
                    return None
                obj = _dot_notation_eval(obj, compiled_ep)
                if obj is _DOT_MISS:
                    return None
            if isinstance(obj, list):
                # top-level array → match slots $1..$N, $0 unset
                # (test_json_parser.c extracts_top_level_array_elements;
                # match-slot names are never prefixed)
                return {
                    str(i): compact(el) if isinstance(el, (dict, list)) else scalar(el)
                    for i, el in enumerate(obj, start=1)
                }
            if not isinstance(obj, dict):
                return None
            out = {}
            stack = [("", obj)]
            while stack:
                path, node = stack.pop()
                if isinstance(node, dict):
                    for k, v in node.items():
                        stack.append((path + key_delimiter + k if path else k, v))
                elif isinstance(node, list):
                    # reference typing (json-parser.c): an all-string
                    # array is a syslog-ng LIST (elements quoted by the
                    # list-scanner rules); any other array keeps its raw
                    # compact JSON (LM_VT_JSON)
                    if all(isinstance(x, str) for x in node):
                        out[path] = _list_encode_py(node)
                    else:
                        out[path] = compact(node)
                else:
                    out[path] = scalar(node)
            return {prefix + k: v for k, v in out.items()} if prefix else out

        return s.map(one)

    return flatten


# ---------------------------------------------------------------------------
# regexp-parser (modules/regexp-parser analogue)
# ---------------------------------------------------------------------------


def _has_toplevel_alternation(p: str) -> bool:
    """True when ``p`` contains a '|' at group depth 0 (outside any
    (...) group or [...] class) — such a pattern's anchors bind per
    alternate and must not be stripped/extended by the packing wrapper."""
    depth = 0
    in_class = False
    i = 0
    while i < len(p):
        c = p[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            return True
        i += 1
    return False


def regexp_parser(
    df: DataFrame,
    patterns: str | list[str],
    source: str | Column = "text",
    prefix: str = "",
    matched_col: str = "re_matched",
) -> DataFrame:
    """Named-group regex → one column per group (first matching pattern wins).

    Pattern syntax is the Python/Java common subset; group names are read
    with Python ``re`` at plan time, extraction runs JVM-side via
    ``regexp_extract`` (no UDF).
    """
    if isinstance(patterns, str):
        patterns = [patterns]
    src = F.col(source) if isinstance(source, str) else source
    # Python (?P<name>...) syntax carries the names; extraction is by
    # group INDEX on the JVM side, so the Java pattern gets anonymous
    # groups (Java also rejects '_' in group names — don't translate).
    compiled = [
        (_re.compile(p), _re.sub(r"\(\?P<[^>]+>", "(", p)) for p in patterns
    ]
    all_names: list[str] = []
    for c, _ in compiled:
        for n in c.groupindex:
            if n not in all_names:
                all_names.append(n)
    out = df
    matched_any = F.lit(False)
    per_pattern_matched = [src.rlike(p) for _, p in compiled]

    # MATCH-ONCE extraction: regexp_extract re-runs the FULL regex per
    # group (a k-group pattern costs k matches — measured seconds at
    # sf0.1 on the apache preset), so instead each pattern is applied
    # once via regexp_replace packing every group into one \x1e-joined
    # string, then split. The pattern is wrapped to consume the whole
    # input (\A..[\s\S]*\z) so exactly one replacement happens; an
    # unanchored pattern keeps its search-anywhere semantics via a lazy
    # prefix INSIDE the consumed region.
    #
    # The packed array and match flags are MATERIALIZED as (temporary)
    # columns before the per-group projection: Spark does no common-
    # subexpression elimination under CASE WHEN branches, so referencing
    # the split expression from inside k `when(...)` columns re-runs the
    # regex k times (measured: 4.7s vs 1.1s on the apache preset at
    # sf0.1) — while CollapseProject keeps a materialized non-cheap
    # column in its own projection, computed once.
    # three control chars in sequence: a single \x1e in the INPUT would
    # shift every packed group (real log payloads do carry stray control
    # bytes); the guard below additionally nulls the extraction instead
    # of returning shifted values if even this sequence appears
    _SEP = "\x1e\x1d\x1f"

    def _packed_parts(creg: "_re.Pattern", praw: str):
        body = praw
        # '^a|b' means (anchored a) OR (b anywhere): stripping the ^ (or
        # pinning the tail) would re-anchor BOTH alternates inside the
        # wrapper while the rlike match flag still uses the original
        # pattern — the wrapper must keep top-level alternations intact
        # ('^' inside (?:...) still means start-of-input in Java).
        top_alt = _has_toplevel_alternation(body)
        head = "\\A"
        if body.startswith("^") and not top_alt:
            body = body[1:]
        else:
            head += "[\\s\\S]*?"
        # a literal trailing $ already pins the end — appending a tail
        # after it would make the wrapper unmatchable
        tail = (
            ""
            if (body.endswith("$") and not body.endswith("\\$") and not top_alt)
            else "[\\s\\S]*"
        )
        whole = f"{head}(?:{body}){tail}\\z"
        if creg.groups == 1:
            # no separator needed — immune to sentinel bytes in the input
            return F.array(F.regexp_replace(src, whole, "$1"))
        repl = _SEP.join(f"${i}" for i in range(1, creg.groups + 1))
        return F.split(F.regexp_replace(src, whole, repl), _re.escape(_SEP), -1)

    tmp_parts = [f"_re_p{i}" for i in range(len(compiled))]
    tmp_match = [f"_re_m{i}" for i in range(len(compiled))]
    for tp, tm, (creg, praw), m in zip(
        tmp_parts, tmp_match, compiled, per_pattern_matched
    ):
        out = out.withColumn(tp, _packed_parts(creg, praw)).withColumn(tm, m)
    for name in all_names:
        col = F.lit(None).cast("string")
        # later patterns only fill when earlier ones didn't match (first-wins)
        expr = None
        for (creg, _praw), tp, tm in zip(compiled, tmp_parts, tmp_match):
            if name in creg.groupindex:
                # a sentinel sequence in the INPUT inflates the split —
                # null the extraction (detectable) rather than silently
                # shifting every group value
                cand = F.when(
                    F.size(F.col(tp)) == creg.groups,
                    F.element_at(F.col(tp), creg.groupindex[name]),
                )
                expr = (
                    F.when(F.col(tm), cand)
                    if expr is None
                    else expr.when(F.col(tm), cand)
                )
        col = expr.otherwise(F.lit(None)) if expr is not None else col
        out = out.withColumn(prefix + name, col)
    for tm in tmp_match:
        matched_any = matched_any | F.col(tm)
    return out.withColumn(matched_col, matched_any).drop(*tmp_parts, *tmp_match)


# ---------------------------------------------------------------------------
# date-parser (modules/timestamp/date-parser.c analogue)
# ---------------------------------------------------------------------------


def date_parser(
    df: DataFrame,
    formats: list[str],
    source: str | Column = "text",
    target: str = "stamp",
) -> DataFrame:
    """Try formats in order; first parse wins (date-parser.c:96-130)."""
    src = F.col(source) if isinstance(source, str) else source
    candidates = [F.try_to_timestamp(src, F.lit(fmt)) for fmt in formats]
    return df.withColumn(target, F.coalesce(*candidates)).withColumn(
        target + "_matched", F.coalesce(*candidates).isNotNull()
    )


# ---------------------------------------------------------------------------
# group-lines / multi-line reassembly (modules/correlation/group-lines.c)
# ---------------------------------------------------------------------------


def group_lines(
    df: DataFrame,
    key: list[str],
    order_by: str = "turn_idx",
    mode: str = "indented",
    separator: str = "\n",
    text_col: str = "text",
    line_start_regex: str | None = None,
    garbage_regex: str | None = None,
) -> DataFrame:
    """Reassemble multi-line records: rows whose text continues the
    previous row's record are merged (multi-line-factory.h modes
    ``indented`` / ``regexp prefix`` / ``empty-line-separated`` /
    ``prefix-garbage`` / ``prefix-suffix``).

    ``prefix-garbage``/``prefix-suffix`` (regexp-multi-line.c): records
    start at ``line_start_regex``; a line matching ``garbage_regex``
    CLOSES the record, truncated at the garbage match's start
    (prefix-garbage drops the garbage) or end (prefix-suffix keeps the
    suffix); the next line opens a new record.

    Sessionization pattern: mark record starts, running-sum to form a
    record id (one window shuffle on ``key``), then group-concat.
    """
    from pyspark.sql import Window as W  # noqa: PLC0415

    t = F.col(text_col)
    if mode in ("prefix-garbage", "prefix-suffix"):
        assert line_start_regex and garbage_regex, (
            f"{mode} needs line_start_regex and garbage_regex"
        )
        keep = (
            F.regexp_extract(t, f"^(.*?)(?:{garbage_regex})", 1)
            if mode == "prefix-garbage"
            else F.regexp_extract(t, f"^(.*?(?:{garbage_regex}))", 1)
        )
        # flags must be computed on the PRE-truncation text: materialize
        # them before text_col is rewritten (a lazy Column referencing
        # text_col would resolve against the truncated value).
        df = (
            df.withColumn("_garbage", t.rlike(garbage_regex))
            .withColumn("_prefix", t.rlike(line_start_regex))
            .withColumn(text_col, F.when(t.rlike(garbage_regex), keep).otherwise(t))
        )
        w0 = W.partitionBy(*key).orderBy(order_by)
        is_start = F.col("_prefix") | F.lag(F.col("_garbage"), 1, False).over(w0)
        out = _group_lines_assemble(df, key, order_by, is_start, separator, text_col)
        return out.drop("_garbage", "_prefix")
    if mode == "indented":
        is_start = ~t.rlike(r"^[ \t]")
    elif mode == "smart":
        # EXACT port of the trained FSM (smart-multi-line.fsm rules +
        # smart-multi-line.c driver) — sequential per stream, so the
        # flags come from one applyInPandas pass; assembly below stays
        # distributed. Reference's own test corpus ported in
        # tests/test_smart_multiline.py.
        from .smart_multiline import smart_start_flags  # noqa: PLC0415

        df = smart_start_flags(df, key, order_by, text_col)
        out = _group_lines_assemble(
            df, key, order_by, F.col("_smart_start"), separator, text_col
        )
        return out
    elif mode == "empty-line-separated":
        is_start = F.lag(t, 1).over(
            W.partitionBy(*key).orderBy(order_by)
        ).isNull() | (F.lag(t, 1).over(W.partitionBy(*key).orderBy(order_by)) == "")
    elif mode == "regexp":
        assert line_start_regex, "regexp mode needs line_start_regex"
        is_start = t.rlike(line_start_regex)
    else:
        raise ValueError(f"unknown multi-line mode {mode}")

    return _group_lines_assemble(df, key, order_by, is_start, separator, text_col)


def _group_lines_assemble(
    df: DataFrame,
    key: list[str],
    order_by: str,
    is_start: Column,
    separator: str,
    text_col: str,
) -> DataFrame:
    from pyspark.sql import Window as W  # noqa: PLC0415

    t = F.col(text_col)
    w = W.partitionBy(*key).orderBy(order_by)
    rec = F.sum(F.when(is_start, 1).otherwise(0)).over(
        w.rowsBetween(W.unboundedPreceding, 0)
    )
    grouped = (
        df.withColumn("_rec_id", rec)
        .groupBy(*key, "_rec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(order_by).alias("o"), t.alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                separator,
            ).alias(text_col),
            F.min(order_by).alias(order_by),
            F.min("ts").alias("ts"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .drop("_rec_id")
    )
    return grouped


# ---------------------------------------------------------------------------
# xml-parser (modules/xml/xml.c analogue)
# ---------------------------------------------------------------------------


def _str_repr_encode(s: str, forbidden: str = ",") -> str:
    """lib/str-repr/encode.c str_repr_encode_append: bare when safe;
    double-quote wrap when quoting is needed or the value has
    apostrophes; SINGLE-quote wrap when it has double quotes (and no
    apostrophes); double-quote wrap with escaped quotes when both."""
    if s == "":
        return '""'
    apo = "'" in s
    quo = '"' in s

    def esc(x: str, escape_quote: bool = False) -> str:
        out = []
        for ch in x:
            if ch == "\\":
                out.append("\\\\")
            elif ch == "\b":
                out.append("\\b")
            elif ch == "\f":
                out.append("\\f")
            elif ch == "\n":
                out.append("\\n")
            elif ch == "\r":
                out.append("\\r")
            elif ch == "\t":
                out.append("\\t")
            elif escape_quote and ch == '"':
                out.append('\\"')
            elif ord(ch) < 0x20:
                out.append(f"\\x{ord(ch):02x}")
            else:
                out.append(ch)
        return "".join(out)

    if not apo and not quo:
        if any(c in s for c in "\b\f\n\r\t\\ ") or any(c in s for c in forbidden):
            return '"' + esc(s) + '"'
        return s
    if quo and not apo:
        return "'" + esc(s) + "'"
    if apo and not quo:
        return '"' + esc(s) + '"'
    return '"' + esc(s, True) + '"'


def xml_parser(
    df: DataFrame,
    source: str | Column = "text",
    prefix: str = ".xml",
    target: str = "xml",
    exclude_tags: list[str] | None = None,
    strip_whitespaces: bool = False,
    create_lists: bool = True,
) -> DataFrame:
    """XML → flattened dotted-key NV pairs (modules/xml/xml.c +
    lib/scanner/xml-scanner): element text lands under
    ``<prefix>.path.to.tag`` (a tag's text segments — text + child
    tails — concatenate, each stripped under ``strip_whitespaces``),
    attributes under ``..._attr``. Repeated keys become syslog-ng
    LISTS by default (create-lists, v3.20+ reference default, elements
    str-repr-encoded with ',' forbidden) or plain-concatenate with
    ``create_lists=False``. ``exclude_tags`` are tag-NAME globs whose
    subtrees are skipped. Multi-root fragments parse (scanner
    semantics); top-level stray text is invalid, as are all the
    reference's invalid_inputs cases. One vectorized Arrow UDF around
    xml.etree; test table: modules/xml/tests/test_xml_parser.c."""
    import fnmatch as _fnmatch  # noqa: PLC0415

    excl = list(exclude_tags or [])

    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def parse(s: pd.Series) -> pd.Series:
        import xml.etree.ElementTree as ET  # noqa: PLC0415

        def excluded(tag):
            return any(_fnmatch.fnmatchcase(tag, p) for p in excl)

        def one(txt):
            if not txt:
                return None
            try:
                roots = [ET.fromstring(txt)]
            except ET.ParseError:
                # multi-root fragment: retry under a wrapper, but stray
                # TOP-LEVEL text (e.g. '<tag></tag>>') stays invalid
                try:
                    wrapper = ET.fromstring(f"<_r>{txt}</_r>")
                except ET.ParseError:
                    return None
                if (wrapper.text or "").strip() or any(
                    (c.tail or "").strip() for c in wrapper
                ):
                    return None
                roots = list(wrapper)
            out: dict[str, str] = {}

            def push(key, val):
                if create_lists:
                    enc = _str_repr_encode(val)
                    out[key] = out[key] + "," + enc if key in out else enc
                else:
                    out[key] = out.get(key, "") + val

            def key_for(parent_key, tag):
                if parent_key:
                    return f"{parent_key}.{tag}"
                if prefix and not prefix.endswith("."):
                    return f"{prefix}.{tag}"
                return f"{prefix}{tag}"

            def walk(node, parent_key):
                p = key_for(parent_key, node.tag)
                for ak, av in node.attrib.items():
                    push(f"{p}._{ak}", av)
                segs = [node.text or ""]
                for child in node:
                    if not excluded(child.tag):
                        walk(child, p)
                    segs.append(child.tail or "")
                if strip_whitespaces:
                    segs = [sg.strip() for sg in segs]
                text = "".join(segs)
                if text:
                    push(p, text)

            for r in roots:
                if not excluded(r.tag):
                    walk(r, "")
            return out

        return s.map(one)

    src = F.col(source) if isinstance(source, str) else source
    out = df.withColumn(target, parse(src))
    return out.withColumn(target + "_matched", F.col(target).isNotNull())


# ---------------------------------------------------------------------------
# tags-parser (modules/tagsparser)
# ---------------------------------------------------------------------------


def tags_parser(
    df: DataFrame, source: str | Column = "text", tags_col: str = "tags"
) -> DataFrame:
    """Parse a syslog-ng list value back into the tags array
    (modules/tagsparser/tags-parser.c)."""
    src = F.col(source) if isinstance(source, str) else source
    parsed = F.filter(
        F.transform(F.split(src, ","), lambda t: F.trim(t)), lambda t: t != ""
    )
    cur = (
        F.coalesce(F.col(tags_col), F.array().cast("array<string>"))
        if tags_col in df.columns
        else F.array().cast("array<string>")
    )
    return df.withColumn(tags_col, F.array_union(cur, parsed))
