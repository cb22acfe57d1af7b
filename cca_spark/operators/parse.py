"""PARSE — regex/grok bank extraction over turn text.

Reference analog: per-language parsers + fact extractors turn one input
tree into many triple rows (UDTF shape,
/root/reference/src/ast/analyzing/common/fact_base.ml:447-507; language
dispatch at /root/reference/src/ast/analyzing/diffastcore.ml:42-48). Here
one turn's ``text`` becomes 0..n fact rows, one per rule match.

Entity identity mirrors the reference's ``(encoding, file-id, range)`` URI
scheme (/root/reference/src/ast/analyzing/common/entity.ml:68-92,
triple.ml:589-596): ``entity_id = conv_id-turn_idx-span_start-span_end-rule_id``
— a deterministic key independent of partitioning, which is what makes
routed-row **set equality** hold across cluster sizes.

Two physical strategies, same logical result:

- ``strategy="pandas"`` (default): ``mapInPandas`` over ONE Python-``re``
  fact kernel (``_extract_batch``), with the regex bank compiled **once
  per Arrow batch iterator** (i.e. once per task) and vectorized
  ``pandas.Series.str`` candidate gates in front of a single ``finditer``
  loop. Arrow batches in, Arrow batches out, zero per-row Spark UDF calls.
- ``strategy="sql"``: pure JVM ``regexp_extract_all`` — stays inside
  whole-stage codegen; used as the bench comparison point and for oracle
  parity checks.

The stream variants are column selections, not kernels: ``with_value=False``
runs the same kernel without the value column, and ``slim=True`` is the
no-value stream projected onto SLIM_FACT_COLUMNS — one selection tail
shared by both strategies. The aggregate-only flagship does not parse facts
at all: ``parse_fact_partials`` counts matches per key with RE2 on the Arrow
batch (``_extract_partials_arrow``).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cca_spark.rules import RULES, Rule, sig_fn

# Bank entry: (rule, compiled pattern, derived-significance fn or None).
# Compiled once per task; the sig fn is generated from the declarative
# SigDerive spec so all evaluation paths share one definition (rules.py).
BankEntry = tuple[Rule, re.Pattern, object]


def compile_bank() -> list[BankEntry]:
    # re.ASCII (ADVICE r03): Python's re evaluates \d/\w/\s/\b over Unicode
    # by default, while the other two evaluation paths — Spark (Java regex,
    # ASCII classes unless UNICODE_CHARACTER_CLASS) and DuckDB (RE2, ASCII
    # classes) — are ASCII-only. Compiling the bank ASCII pins all three
    # paths to identical character-class semantics: a Unicode digit in a
    # turn must not match (nor escalate derived significance) in the pandas
    # kernel alone. Pinned by test_bank_ascii_class_parity.
    return [(r, re.compile(r.pattern, re.ASCII), sig_fn(r)) for r in RULES]


def _candidate_masks(texts_s, tools_s, roles_s, bank: list[BankEntry]) -> list:
    """Per-rule candidate masks with SHARED anchor/scope scans: several
    rules reuse an anchor (three rules anchor on \\`\\`\\`, two on
    'exit code ', ...), so the vectorized contains() runs once per DISTINCT
    anchor per batch, not once per rule. Role sub-banks (rules.role_scope)
    restrict each rule to its role's turns BEFORE the anchor scan — the
    per-language-bank prune: a batch row is anchor-scanned by ~its role's
    sub-bank only, which is what keeps the Python kernel's regex budget
    flat as the bank grows."""
    anchor_masks: dict[tuple[str, str | None], object] = {}
    role_masks: dict[str, object] = {}
    scope_masks: dict[str, object] = {}
    out = []
    for rule, _cre, _sfn in bank:
        rm = None
        if rule.role_scope is not None:
            rm = role_masks.get(rule.role_scope)
            if rm is None:
                rm = (roles_s == rule.role_scope).to_numpy()
                role_masks[rule.role_scope] = rm
        key = (rule.anchor, rule.role_scope)
        am = anchor_masks.get(key)
        if am is None:
            if rm is None:
                am = texts_s.str.contains(rule.anchor, regex=False)
            else:
                # anchor-scan only the role's rows; others stay False
                am_vals = np.zeros(len(texts_s), dtype=bool)
                sub = texts_s[rm]
                am_vals[rm] = sub.str.contains(rule.anchor, regex=False).to_numpy()
                am = pd.Series(am_vals, index=texts_s.index)
            anchor_masks[key] = am
        if rule.tool_scope is None:
            out.append(am)
        else:
            sm = scope_masks.get(rule.tool_scope)
            if sm is None:
                sm = tools_s == rule.tool_scope
                scope_masks[rule.tool_scope] = sm
            out.append(am & sm)
    return out


# The kernel's output columns in order, each column's Spark type written
# once; the column lists and the kernel schema are derived from it.
# entity_id is not here: parse_facts builds it JVM-side (r6) as a
# concat_ws projection — identical bytes, built in codegen, never shipped
# through Arrow.
_KERNEL_TYPES = {
    "conv_id": "string",
    "turn_idx": "int",
    "role": "string",
    "tool": "string",
    "ts": "timestamp_ntz",
    "rule_id": "string",
    "sink": "string",
    "significance": "int",
    "span_start": "int",
    "span_end": "int",
    "value": "string",
}

KERNEL_FACT_COLUMNS = list(_KERNEL_TYPES)

FACT_COLUMNS = ["entity_id", *KERNEL_FACT_COLUMNS]

# No-value stream (r6): consumers that never read ``value`` (the
# range-containment suppression reads only spans/meta) skip the per-match
# group extraction AND the value bytes' Arrow crossing — measured −12% on
# the full kernel at sf0.1 batches. Row multiset per (turn, rule, span)
# is identical to the full stream minus the column.
KERNEL_NOVALUE_COLUMNS = [c for c in KERNEL_FACT_COLUMNS if c != "value"]

# Slim fact stream: the meta columns an aggregate consumes — a projection
# of the no-value stream, so entity_id's concat never runs and the value
# never crosses Arrow.
SLIM_FACT_COLUMNS = [
    c for c in KERNEL_NOVALUE_COLUMNS if c not in ("span_start", "span_end")
]


PARTIAL_AGG_SCHEMA = (
    "conv_id string, tool string, date_bucket timestamp_ntz, sink string, n long"
)


def _extract_partials_arrow(batch):
    """Arrow-native partials kernel (r6): per-rule match COUNTS via
    pyarrow's RE2 (``count_substring_regex``) directly on the incoming
    Arrow batch — the ``text`` column never becomes Python string objects
    (guide §4.2: hand whole batches to vectorized native code).

    Equivalence argument: the DuckDB oracle already evaluates this exact
    rule bank through RE2 (``regexp_extract_all``) and hash-matches the
    Python-re kernel, so RE2-vs-re count parity on this pattern subset is
    oracle-proven; additionally pinned per-rule by
    test_arrow_partials_kernel_parity. Scoped rules mask their counts by
    role/tool equality BEFORE the per-sink accumulation, exactly like the
    pandas kernel. The grouping tail stays in pandas over the (small)
    nonzero key rows — pyarrow's TableGroupBy was measured emitting
    duplicate (unmerged) groups on multi-chunk real-data input, and while
    duplicate PARTIALS would still aggregate correctly downstream, the
    kernel output should stay deterministic.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    idx = {name: i for i, name in enumerate(batch.schema.names)}
    texts = batch.column(idx["text"])
    roles_arr = batch.column(idx["role"])
    tools_arr = batch.column(idx["tool"])
    sink_counts: dict[str, np.ndarray] = {}
    role_masks: dict[str, np.ndarray] = {}
    tool_masks: dict[str, np.ndarray] = {}
    for rule in RULES:
        cnt = (
            pc.fill_null(pc.count_substring_regex(texts, pattern=rule.pattern), 0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        if not cnt.any():
            continue
        mask = None
        if rule.role_scope is not None:
            m = role_masks.get(rule.role_scope)
            if m is None:
                m = pc.fill_null(pc.equal(roles_arr, rule.role_scope), False).to_numpy(
                    zero_copy_only=False
                )
                role_masks[rule.role_scope] = m
            mask = m
        if rule.tool_scope is not None:
            m = tool_masks.get(rule.tool_scope)
            if m is None:
                m = pc.fill_null(pc.equal(tools_arr, rule.tool_scope), False).to_numpy(
                    zero_copy_only=False
                )
                tool_masks[rule.tool_scope] = m
            mask = m if mask is None else (mask & m)
        if mask is not None:
            cnt = np.where(mask, cnt, 0)
            if not cnt.any():
                continue
        acc = sink_counts.get(rule.sink)
        if acc is None:
            sink_counts[rule.sink] = cnt
        else:
            acc += cnt
    if not sink_counts:
        return None
    date = pc.floor_temporal(batch.column(idx["ts"]), unit="day")
    base = pd.DataFrame(
        {
            "conv_id": batch.column(idx["conv_id"]).to_pandas(),
            "tool": tools_arr.to_pandas(),
            "date_bucket": date.to_pandas(),
        }
    )
    outs = []
    for sink, arr in sink_counts.items():
        nzm = arr > 0
        if not nzm.any():
            continue
        g = base[nzm].copy()
        g["n"] = arr[nzm]
        g["sink"] = sink
        outs.append(g)
    if not outs:
        return None
    facts = pd.concat(outs, ignore_index=True)
    out = (
        facts.groupby(["conv_id", "tool", "date_bucket", "sink"], dropna=False)["n"]
        .sum()
        .reset_index()
    )
    out["tool"] = out["tool"].where(pd.notna(out["tool"]), None)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("tool", pa.string()),
            ("date_bucket", pa.timestamp("us")),
            ("sink", pa.string()),
            ("n", pa.int64()),
        ]
    )
    return pa.RecordBatch.from_pandas(
        out[["conv_id", "tool", "date_bucket", "sink", "n"]],
        schema=schema,
        preserve_index=False,
    )


def parse_fact_partials(transcripts: DataFrame) -> DataFrame:
    """Per-batch partial fact counts. r6: ``mapInArrow`` + the RE2 counting
    kernel (_extract_partials_arrow) replaces ``mapInPandas`` + the
    Python-re kernel — the Arrow->pandas conversion of the corpus-sized
    ``text`` column (one Python str object per turn) disappears along
    with the Python-loop regex counting. Parity with the Python-re fact
    kernel's output, grouped by key, is pinned by
    test_arrow_partials_kernel_parity and the end-to-end
    test_fused_pipeline_agg_equivalence."""

    def run(batches):
        for batch in batches:
            out = _extract_partials_arrow(batch)
            if out is not None:
                yield out

    return transcripts.mapInArrow(run, schema=PARTIAL_AGG_SCHEMA)


def _extract_batch(
    pdf: pd.DataFrame, bank: list[BankEntry], with_value: bool = True
) -> pd.DataFrame:
    """The fact kernel: apply the compiled bank to one Arrow batch and emit
    one row per match — KERNEL_FACT_COLUMNS, or KERNEL_NOVALUE_COLUMNS
    when ``with_value=False``.

    Hot-loop discipline (measured, not guessed — see git history):
    - RULE-MAJOR iteration with a VECTORIZED literal anchor prefilter:
      ``Series.str.contains(anchor, regex=False)`` computes the per-rule
      candidate mask in C (plus a vectorized tool-scope equality for
      sub-bank rules), so the Python loop only visits (rule, candidate)
      pairs — 1.5x faster at 25 rules than the row-major loop whose
      2.5M-iteration rule×row bytecode dominated. Every match provably
      contains the anchor (tests/test_rules_unit.py); same
      cheap-filter-before-expensive-work discipline as the reference's
      similarity prefilters (comparison.ml:30-38).
    - the loop appends ONE small tuple per fact (not 12 per-column
      appends); row attributes are materialized afterwards by numpy
      fancy-indexing, and the per-hit columns by ``np.fromiter`` (2-3x
      faster than ``zip(*hits)`` + ``np.array`` on 520k hits).
    - the value group is chosen per RULE, not per match: group 1 when the
      pattern has groups, else the whole match.
    """
    texts_s = pdf["text"].fillna("")
    texts = texts_s.tolist()
    masks = _candidate_masks(texts_s, pdf["tool"], pdf["role"], bank)
    hits: list[tuple] = []  # (row, rule, start, end, significance, value)
    for j, (rule, cre, sfn) in enumerate(bank):
        finditer = cre.finditer
        base = rule.significance
        g = (1 if cre.groups else 0) if with_value else None
        for i in np.nonzero(masks[j].to_numpy())[0]:
            for m in finditer(texts[i]):
                hits.append(
                    (
                        i,
                        j,
                        m.start(),
                        m.end(),
                        base if sfn is None else sfn(m),
                        None if g is None else m.group(g),
                    )
                )

    def col(k: int, dtype) -> np.ndarray:
        return np.fromiter((h[k] for h in hits), dtype=dtype, count=len(hits))

    ix = col(0, np.int64)
    rj = col(1, np.int64)
    rule_ids = np.array([r.rule_id for r, _, _ in bank], dtype=object)
    sinks = np.array([r.sink for r, _, _ in bank], dtype=object)
    cols = {
        "conv_id": pdf["conv_id"].to_numpy()[ix],
        "turn_idx": pdf["turn_idx"].to_numpy()[ix].astype("int32"),
        "role": pdf["role"].to_numpy()[ix],
        "tool": pdf["tool"].to_numpy()[ix],
        # explicit dtype: a zero-match batch must still carry an
        # Arrow-castable 'ts' (an empty object/float64 column breaks the
        # timestamp cast; pinned by
        # test_fact_kernel_empty_batches_are_arrow_castable)
        "ts": pd.to_datetime(pdf["ts"].to_numpy()[ix]),
        "rule_id": rule_ids[rj],
        "sink": sinks[rj],
        "significance": col(4, np.int32),
        "span_start": col(2, np.int32),
        "span_end": col(3, np.int32),
    }
    if with_value:
        cols["value"] = col(5, object)
    return pd.DataFrame(cols)


def parse_facts(
    transcripts: DataFrame,
    strategy: str = "pandas",
    slim: bool = False,
    with_value: bool = True,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> fact stream.

    ``slim=True`` emits only the meta columns an aggregate consumes
    (SLIM_FACT_COLUMNS); ``with_value=False`` (r6) keeps entity_id/spans
    but drops ``value`` — for consumers (the range-containment join) that
    never read it. Both are column selections over the same fact rows, so
    the row multiset per (turn, rule) is identical to the full stream.
    Catalyst cannot push a projection into the opaque kernel, so the
    pandas strategy runs the kernel without values for either, keeping
    the per-match group extraction and the value bytes off the Arrow
    boundary. The two contradict each other (slim drops the entity_id and
    spans that ``with_value=False`` keeps), so asking for both raises
    ``ValueError``."""
    if slim and not with_value:
        raise ValueError("parse_facts: slim=True contradicts with_value=False; choose one")
    if strategy == "pandas":
        kernel_value = with_value and not slim

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # compile once per task (reference compiles its rule bank once
            # per language engine instance, java_change.ml:788-793)
            bank = compile_bank()
            for pdf in batches:
                yield _extract_batch(pdf, bank, with_value=kernel_value)

        kernel_cols = KERNEL_FACT_COLUMNS if kernel_value else KERNEL_NOVALUE_COLUMNS
        schema = ", ".join(f"{c} {_KERNEL_TYPES[c]}" for c in kernel_cols)
        facts = transcripts.mapInPandas(run, schema=schema)
        df = facts.select(
            F.concat_ws(
                "-", "conv_id", "turn_idx", "span_start", "span_end", "rule_id"
            ).alias("entity_id"),
            *kernel_cols,
        )
    elif strategy == "sql":
        df = _parse_facts_sql(transcripts)
    else:
        raise ValueError(f"unknown parse strategy: {strategy}")
    if slim:
        return df.select(*SLIM_FACT_COLUMNS)
    if not with_value:
        return df.select("entity_id", *KERNEL_NOVALUE_COLUMNS)
    return df


def _parse_facts_sql(transcripts: DataFrame) -> DataFrame:
    """JVM-only variant: ONE scan, all rules evaluated in a single
    projection, ONE generate (``inline``) emitting only actual matches.

    Each rule's ``regexp_extract_all`` match list is wrapped into
    ``array<struct(rule_id, sink, significance, m0)>`` via ``transform``;
    the per-rule arrays are flattened and ``inline``d, so the generator
    emits exactly one row per (rule, match). The previous shape — explode
    an array of N_rules structs, then explode each struct's match list —
    materialized N_rules rows per TURN (62x the corpus, each carrying the
    full ``text``) before the second explode dropped the empties; the
    single-generate plan goes straight from turns to matches (guide §2.3:
    don't materialize rows you immediately throw away). A per-rule union
    of full scans would read the 10^12-turn table N_rules times; this
    still reads it once.

    Spans are recovered with ``instr`` (valid because each rule matches at
    most one distinct substring per generated turn); the pandas strategy is
    authoritative for overlapping/multi-match inputs. The group value and
    derived significance are re-extracted from the short match string
    AFTER the generate (plain projections over (rule_id, m0)), so Catalyst
    prunes them — and ``text`` — away entirely for aggregate-only
    consumers (the pipeline_sql bench path).
    """
    empty = F.array().cast("array<string>")

    def _matches(r: Rule):
        # NOTE: no contains()-anchor prefilter here, deliberately — A/B
        # measured it a pessimization for this strategy (21.2s vs 18.1s at
        # 1.6M turns): java.util.regex already fast-scans for the literal
        # prefix, so the extra CASE+contains only adds work. The anchor
        # prefilter pays off in the pandas kernel, where it moves the
        # candidate scan from Python bytecode into C.
        ms = F.regexp_extract_all(F.col("text"), F.lit(r.pattern), 0)
        cond = None
        if r.role_scope is not None:
            # per-role sub-bank (rules.Rule.role_scope)
            cond = F.col("role") == r.role_scope
        if r.tool_scope is not None:
            # per-tool sub-bank: scoped rules emit nothing off-scope
            sc = F.col("tool") == r.tool_scope
            cond = sc if cond is None else (cond & sc)
        if cond is not None:
            ms = F.when(cond, ms).otherwise(empty)
        # coalesce: a NULL match list (null text) must not null the flatten
        return F.coalesce(ms, empty)

    def _rule_match_structs(r: Rule):
        return F.transform(
            _matches(r),
            lambda m: F.struct(
                F.lit(r.rule_id).alias("rule_id"),
                F.lit(r.sink).alias("sink"),
                F.lit(r.significance).cast("int").alias("base_sig"),
                m.alias("m0"),
            ),
        )

    flat = F.flatten(F.array(*[_rule_match_structs(r) for r in RULES]))
    exploded = transcripts.select(
        "conv_id", "turn_idx", "role", "tool", "ts", "text", F.inline(flat)
    )
    value = None
    for r in RULES:
        g = 1 if re.compile(r.pattern).groups else 0
        branch = F.regexp_extract(F.col("m0"), r.pattern, g)
        value = (
            F.when(F.col("rule_id") == r.rule_id, branch)
            if value is None
            else value.when(F.col("rule_id") == r.rule_id, branch)
        )
    # derived significance (rules.SigDerive): re-extract the compared
    # group(s) from the SHORT match string and apply the rule's CASE —
    # generated from the same spec as the pandas kernel and the oracle
    sig = None
    for r in RULES:
        if r.derive is None:
            continue
        d = r.derive
        lhs = F.regexp_extract(F.col("m0"), r.pattern, d.lhs_group).try_cast("int")
        rhs = (
            F.lit(d.rhs_const)
            if d.rhs_group is None
            else F.regexp_extract(F.col("m0"), r.pattern, d.rhs_group).try_cast("int")
        )
        cond = {
            ">=": lhs >= rhs,
            ">": lhs > rhs,
            "=": lhs == rhs,
            "<=": lhs <= rhs,
            "<": lhs < rhs,
        }[d.op]
        branch = F.when(cond, F.lit(d.sig_true)).otherwise(F.lit(r.significance))
        sig = (
            F.when(F.col("rule_id") == r.rule_id, branch)
            if sig is None
            else sig.when(F.col("rule_id") == r.rule_id, branch)
        )
    sig = F.col("base_sig") if sig is None else sig.otherwise(F.col("base_sig"))
    start = F.instr(F.col("text"), F.col("m0")) - F.lit(1)
    end = start + F.length("m0")
    return exploded.select(
        F.concat_ws(
            "-", F.col("conv_id"), F.col("turn_idx"), start, end, F.col("rule_id")
        ).alias("entity_id"),
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "rule_id",
        "sink",
        sig.cast("int").alias("significance"),
        start.cast("int").alias("span_start"),
        end.cast("int").alias("span_end"),
        value.alias("value"),
    )
