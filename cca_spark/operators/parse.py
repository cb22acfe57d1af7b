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

- ``strategy="pandas"`` (default): ``mapInPandas`` with the regex bank
  compiled **once per Arrow batch iterator** (i.e. once per task), applied
  via ``pandas.Series.str`` vectorized ops where possible. This is the
  north-star path: Arrow batches in, Arrow batches out, zero per-row Spark
  UDF calls.
- ``strategy="sql"``: pure JVM ``regexp_extract_all`` — stays inside
  whole-stage codegen; used as the bench comparison point and for oracle
  parity checks.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

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
                import numpy as np

                am_vals = np.zeros(len(texts_s), dtype=bool)
                sub = texts_s[rm]
                am_vals[rm] = sub.str.contains(rule.anchor, regex=False).to_numpy()
                import pandas as pd

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

FACT_SCHEMA = (
    "entity_id string, conv_id string, turn_idx int, role string, "
    "tool string, ts timestamp_ntz, rule_id string, sink string, "
    "significance int, span_start int, span_end int, value string"
)

FACT_COLUMNS = [
    "entity_id",
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "rule_id",
    "sink",
    "significance",
    "span_start",
    "span_end",
    "value",
]

# What the full pandas kernel emits through Arrow: FACT_COLUMNS minus the
# derived entity_id, which parse_facts reattaches as a JVM concat_ws
# projection (r6) — identical bytes, built in codegen instead of pandas.
KERNEL_FACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, "
    "tool string, ts timestamp_ntz, rule_id string, sink string, "
    "significance int, span_start int, span_end int, value string"
)

KERNEL_FACT_COLUMNS = [c for c in FACT_COLUMNS if c != "entity_id"]

# No-value kernel output (r6): consumers that never read ``value`` (the
# range-containment suppression reads only spans/meta) skip the per-match
# group extraction AND the value bytes' Arrow crossing — measured −12% on
# the full kernel at sf0.1 batches. Row multiset per (turn, rule, span)
# is identical to the full stream minus the column.
KERNEL_NOVALUE_SCHEMA = (
    "conv_id string, turn_idx int, role string, "
    "tool string, ts timestamp_ntz, rule_id string, sink string, "
    "significance int, span_start int, span_end int"
)

KERNEL_NOVALUE_COLUMNS = [c for c in KERNEL_FACT_COLUMNS if c != "value"]

# Slim fact stream: manual column pruning THROUGH the UDF boundary.
# Catalyst cannot push a projection into an opaque mapInPandas, so callers
# that never read entity_id/span/value (the flagship aggregate) request the
# slim schema instead — at 10^12 turns the full stream ships ~150 B/fact of
# derived strings through Arrow that the aggregate immediately drops.
SLIM_FACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "ts timestamp_ntz, rule_id string, sink string, significance int"
)

SLIM_FACT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "rule_id",
    "sink",
    "significance",
]


def _extract_batch_slim(pdf: pd.DataFrame, bank: list[BankEntry]) -> pd.DataFrame:
    """Slim kernel: one output row per match, meta columns only — no span
    arithmetic, no value extraction, no entity_id concat. Same candidate
    discipline as the full kernel (vectorized anchor + tool-scope masks);
    emits exactly the same NUMBER of rows per (turn, rule), so any
    aggregate over the slim stream equals the same aggregate over the full
    stream (pinned by test_slim_parse_agg_equivalence)."""
    import numpy as np

    texts_s = pdf["text"].fillna("")
    tools_s = pdf["tool"]
    texts = texts_s.tolist()
    masks = _candidate_masks(texts_s, tools_s, pdf["role"], bank)
    hits: list[tuple[int, int, int]] = []  # (row, rule, significance)
    for j, (rule, cre, sfn) in enumerate(bank):
        mask = masks[j]
        finditer = cre.finditer
        base = rule.significance
        if sfn is None:
            for i in np.nonzero(mask.to_numpy())[0]:
                for _ in finditer(texts[i]):
                    hits.append((i, j, base))
        else:
            for i in np.nonzero(mask.to_numpy())[0]:
                for m in finditer(texts[i]):
                    hits.append((i, j, sfn(m)))

    if hits:
        ix = np.fromiter((h[0] for h in hits), dtype=np.int64, count=len(hits))
        rj = np.fromiter((h[1] for h in hits), dtype=np.int64, count=len(hits))
        sig = np.fromiter((h[2] for h in hits), dtype=np.int32, count=len(hits))
    else:
        ix = rj = np.empty(0, dtype=np.int64)
        sig = np.empty(0, dtype=np.int32)
    rule_ids = np.array([r.rule_id for r, _, _ in bank], dtype=object)
    sinks = np.array([r.sink for r, _, _ in bank], dtype=object)
    res = pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy()[ix],
            "turn_idx": pdf["turn_idx"].to_numpy()[ix].astype("int32"),
            "role": pdf["role"].to_numpy()[ix],
            "tool": pdf["tool"].to_numpy()[ix],
            "ts": pdf["ts"].to_numpy()[ix],
            "rule_id": rule_ids[rj],
            "sink": sinks[rj],
            "significance": sig,
        }
    )
    res["ts"] = pd.to_datetime(res["ts"])
    for c in ("conv_id", "role", "tool", "rule_id", "sink"):
        res[c] = res[c].astype(object)
    return res[SLIM_FACT_COLUMNS]


PARTIAL_AGG_SCHEMA = (
    "conv_id string, tool string, date_bucket timestamp_ntz, sink string, n long"
)


def _extract_batch_partials(pdf: pd.DataFrame, bank: list[BankEntry]) -> pd.DataFrame:
    """Map-side combine THROUGH the Arrow boundary: emit per-batch partial
    counts keyed by (conv_id, tool, date, sink) instead of one row per
    fact. Spark's partial HashAggregate cannot reach inside a mapInPandas,
    so a 10k-turn batch that produces ~55k facts would ship 55k Arrow rows
    the JVM immediately combines; the pandas groupby here shrinks that to
    the batch's distinct key count (~10-15x fewer rows at this corpus).
    The sink column is the RULE's sink (pre-reroute): dead-letter routing
    needs the ontology and stays a JVM broadcast join downstream, so
    routing logic never gets duplicated in Python."""
    import numpy as np

    texts_s = pdf["text"].fillna("")
    tools_s = pdf["tool"]
    masks = _candidate_masks(texts_s, tools_s, pdf["role"], bank)
    # COUNT-BASED kernel (r3): the output keys only need per-(row, sink)
    # match COUNTS, so the per-match Python loop (1M match objects + tuple
    # appends per 100k-row batch) is replaced with pandas' C-looped
    # ``str.count`` per rule, accumulated into one int array per sink —
    # and the 10x-larger per-hit frame never materializes. Measured 1.9x
    # on the identical batch, output bit-identical (multi-match counting
    # stays exact: str.count counts non-overlapping matches like finditer).
    n_rows = len(pdf)
    sink_counts: dict[str, np.ndarray] = {}
    for j, (rule, cre, _sfn) in enumerate(bank):
        mnp = masks[j].to_numpy()
        if not mnp.any():
            continue
        cnt = texts_s[mnp].str.count(cre).to_numpy().astype(np.int64)
        if not cnt.any():
            continue
        arr = sink_counts.get(rule.sink)
        if arr is None:
            arr = np.zeros(n_rows, dtype=np.int64)
            sink_counts[rule.sink] = arr
        arr[mnp] += cnt
    date = pd.to_datetime(pdf["ts"]).dt.floor("D")
    base = pd.DataFrame(
        {"conv_id": pdf["conv_id"], "tool": pdf["tool"], "date_bucket": date}
    )
    outs = []
    for sink, arr in sink_counts.items():
        nz = arr > 0
        if not nz.any():
            continue
        g = base[nz].copy()
        g["n"] = arr[nz]
        g["sink"] = sink
        outs.append(g)
    if outs:
        facts = pd.concat(outs, ignore_index=True)
        out = (
            facts.groupby(["conv_id", "tool", "date_bucket", "sink"], dropna=False)["n"]
            .sum()
            .reset_index()
        )
    else:
        out = pd.DataFrame(
            {
                "conv_id": pd.Series([], dtype=object),
                "tool": pd.Series([], dtype=object),
                "date_bucket": pd.Series([], dtype="datetime64[ns]"),
                "sink": pd.Series([], dtype=object),
                "n": pd.Series([], dtype="int64"),
            }
        )
    out["n"] = out["n"].astype("int64")
    out["date_bucket"] = pd.to_datetime(out["date_bucket"])
    for c in ("conv_id", "tool", "sink"):
        out[c] = out[c].astype(object)
    # dropna=False keeps NaN tool groups; Arrow wants None, not NaN
    out["tool"] = out["tool"].where(pd.notna(out["tool"]), None)
    return out[["conv_id", "tool", "date_bucket", "sink", "n"]]


def _extract_partials_arrow(batch):
    """Arrow-native partials kernel (r6): per-rule match COUNTS via
    pyarrow's RE2 (``count_substring_regex``) directly on the incoming
    Arrow batch — the ``text`` column never becomes Python string objects
    (guide §4.2: hand whole batches to vectorized native code).

    Equivalence argument: the DuckDB oracle already evaluates this exact
    rule bank through RE2 (``regexp_extract_all``) and hash-matches the
    Python-re kernels, so RE2-vs-re count parity on this pattern subset is
    oracle-proven; additionally pinned per-rule by
    test_arrow_partials_kernel_parity. Scoped rules mask their counts by
    role/tool equality BEFORE the per-sink accumulation, exactly like the
    pandas kernel. The grouping tail stays in pandas over the (small)
    nonzero key rows — pyarrow's TableGroupBy was measured emitting
    duplicate (unmerged) groups on multi-chunk real-data input, and while
    duplicate PARTIALS would still aggregate correctly downstream, the
    kernel output should stay deterministic.
    """
    import numpy as np
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
    with the Python-loop regex counting. The pandas kernel
    (_extract_batch_partials) stays as the reference implementation;
    parity is pinned by test_arrow_partials_kernel_parity and the
    end-to-end test_fused_pipeline_agg_equivalence."""

    def run(batches):
        for batch in batches:
            out = _extract_partials_arrow(batch)
            if out is not None:
                yield out

    return transcripts.mapInArrow(run, schema=PARTIAL_AGG_SCHEMA)


def _extract_batch(
    pdf: pd.DataFrame, bank: list[BankEntry], with_value: bool = True
) -> pd.DataFrame:
    """Apply the compiled bank to one Arrow batch; emit one row per match.

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
      fancy-indexing and the entity_id by vectorized pandas string
      concatenation — 2.5x faster end-to-end than the naive kernel.
    """
    import numpy as np

    texts_s = pdf["text"].fillna("")
    tools_s = pdf["tool"]  # per-tool sub-bank dispatch (rules.py)
    texts = texts_s.tolist()
    masks = _candidate_masks(texts_s, tools_s, pdf["role"], bank)
    # (row, rule, start, end, value, significance) — or without value in
    # the no-value variant (separate loop bodies: a per-match branch in
    # the hot loop would tax the common path)
    hits: list[tuple] = []
    if with_value:
        for j, (rule, cre, sfn) in enumerate(bank):
            finditer = cre.finditer
            base = rule.significance
            for i in np.nonzero(masks[j].to_numpy())[0]:
                for m in finditer(texts[i]):
                    hits.append(
                        (
                            i,
                            j,
                            m.start(),
                            m.end(),
                            m.group(1) if m.groups() else m.group(0),
                            base if sfn is None else sfn(m),
                        )
                    )
    else:
        for j, (rule, cre, sfn) in enumerate(bank):
            finditer = cre.finditer
            base = rule.significance
            for i in np.nonzero(masks[j].to_numpy())[0]:
                for m in finditer(texts[i]):
                    hits.append(
                        (i, j, m.start(), m.end(), base if sfn is None else sfn(m))
                    )

    if hits:
        ix = np.fromiter((h[0] for h in hits), dtype=np.int64, count=len(hits))
        rj = np.fromiter((h[1] for h in hits), dtype=np.int64, count=len(hits))
    else:
        ix = rj = np.empty(0, dtype=np.int64)
    rule_ids = np.array([r.rule_id for r, _, _ in bank], dtype=object)
    sinks = np.array([r.sink for r, _, _ in bank], dtype=object)

    sig_ix = 5 if with_value else 4
    cols = {
        "conv_id": pdf["conv_id"].to_numpy()[ix],
        "turn_idx": pdf["turn_idx"].to_numpy()[ix].astype("int32"),
        "role": pdf["role"].to_numpy()[ix],
        "tool": pdf["tool"].to_numpy()[ix],
        "ts": pdf["ts"].to_numpy()[ix],
        "rule_id": rule_ids[rj],
        "sink": sinks[rj],
        "significance": np.fromiter(
            (h[sig_ix] for h in hits), dtype=np.int32, count=len(hits)
        ),
        "span_start": np.fromiter(
            (h[2] for h in hits), dtype=np.int32, count=len(hits)
        ),
        "span_end": np.fromiter((h[3] for h in hits), dtype=np.int32, count=len(hits)),
    }
    if with_value:
        cols["value"] = np.array([h[4] for h in hits], dtype=object)
    res = pd.DataFrame(cols)
    # entity_id is built JVM-side (parse_facts): concat_ws in codegen beats
    # five pandas string materializations per batch, and ~35 B/fact of
    # derived string never crosses the Arrow boundary (r6, guide §4.1)
    # explicit dtypes: a zero-match batch must still carry Arrow-castable
    # columns (an empty object/float64 'ts' breaks the timestamp cast)
    res["ts"] = pd.to_datetime(res["ts"])
    obj_cols = ("conv_id", "role", "tool", "rule_id", "sink", "value")
    for c in obj_cols if with_value else obj_cols[:-1]:
        res[c] = res[c].astype(object)
    return res[KERNEL_FACT_COLUMNS if with_value else KERNEL_NOVALUE_COLUMNS]


def parse_facts(
    transcripts: DataFrame,
    strategy: str = "pandas",
    slim: bool = False,
    with_value: bool = True,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> fact stream.

    ``slim=True`` emits only the meta columns an aggregate consumes
    (SLIM_FACT_COLUMNS) — manual projection pushdown through the Arrow
    boundary; row multiset per (turn, rule) is identical to the full
    stream. ``with_value=False`` (r6) keeps entity_id/spans but skips the
    per-match group extraction and the value bytes' Arrow crossing —
    manual column pruning for consumers (the range-containment join) that
    never read ``value``; Catalyst cannot push the projection into the
    opaque kernel. The two contradict each other (slim drops the
    entity_id and spans that ``with_value=False`` keeps), so asking for
    both raises ``ValueError``."""
    if slim and not with_value:
        raise ValueError("parse_facts: slim=True contradicts with_value=False; choose one")
    if strategy == "pandas":
        if slim:
            kernel = _extract_batch_slim
        elif with_value:
            kernel = _extract_batch
        else:
            def kernel(pdf, bank):
                return _extract_batch(pdf, bank, with_value=False)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # compile once per task (reference compiles its rule bank once
            # per language engine instance, java_change.ml:788-793)
            bank = compile_bank()
            for pdf in batches:
                yield kernel(pdf, bank)

        if slim:
            return transcripts.mapInPandas(run, schema=SLIM_FACT_SCHEMA)
        # entity_id as a JVM projection over the kernel output (r6): same
        # bytes as the former pandas concat, built in whole-stage codegen,
        # and never shipped through Arrow
        schema = KERNEL_FACT_SCHEMA if with_value else KERNEL_NOVALUE_SCHEMA
        out_cols = KERNEL_FACT_COLUMNS if with_value else KERNEL_NOVALUE_COLUMNS
        facts = transcripts.mapInPandas(run, schema=schema)
        return facts.select(
            F.concat_ws(
                "-", "conv_id", "turn_idx", "span_start", "span_end", "rule_id"
            ).alias("entity_id"),
            *out_cols,
        )

    if strategy == "sql":
        df = _parse_facts_sql(transcripts)
        if slim:
            return df.select(*SLIM_FACT_COLUMNS)
        if not with_value:
            return df.select("entity_id", *KERNEL_NOVALUE_COLUMNS)
        return df

    raise ValueError(f"unknown parse strategy: {strategy}")


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
