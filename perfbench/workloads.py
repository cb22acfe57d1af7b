"""The workloads: what one job runs, how its output is checked, and the
cumulative layer prefixes a traced run times into the ``noop`` sink.

``route_agg`` runs the fused aggregate, where the parse kernel dominates;
its traced run adds the fan-out write chain (parse_facts, enrich, route,
write) over the same corpus. ``curate`` runs the dedup layers, where parse
does nothing; its traced run adds the connected components.

Every job calls the public functions of ``cca_spark`` on the stored corpus;
nothing here re-implements a layer. Checks compare against DuckDB over the
same inputs and run outside the timed region.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed(df: DataFrame, **exprs) -> tuple[DataFrame, Observation]:
    """``df`` with row count (and any extra aggregates) observed on the way
    through — no extra job."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [e.alias(k) for k, e in exprs.items()]
    return df.observe(obs, *aggs), obs


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def sink_stats(path: str) -> dict:
    """Data files, bytes and rows (from the parquet footers) of a sink tree."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(p) for p in files),
        "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
    }


class Workload:
    """One workload over one SparkSession. Subclasses set the class fields
    and implement ``job``, ``check``, ``corrupt`` and ``prefixes``."""

    name: str
    full_layer: str  # the prefix that runs the whole job
    sf: float  # scale factor of the generated events (0.1 = 100k turns)

    def __init__(self, spark, ctx: dict):
        from cca_spark.bench_corpus import read_bench_corpus

        self.spark = spark
        self.ctx = ctx
        self.transcripts = read_bench_corpus(spark, ctx["corpus"])

    @classmethod
    def oracle(cls, ctx: dict):
        """The expected result, computed in DuckDB before Spark starts."""
        raise NotImplementedError

    def job(self):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def corrupt(self, out):
        raise NotImplementedError

    def release(self, out) -> None:
        """Drop what a job left behind (files, cached blocks)."""

    def prefixes(self) -> list[tuple[str, str | None, object]]:
        """``[(layer, parent, run)]``: ``run(obs)`` executes the cumulative
        prefix ending at ``layer`` into the ``noop`` sink and returns its
        observed counts; ``parent`` is the prefix it extends."""
        raise NotImplementedError


def _routed_oracle(ctx: dict, select: str) -> list:
    """DuckDB rows of ``select`` over the oracle's routed facts. They depend
    only on the SQL and the seed-independent events, so they are computed
    once per checkout and cached."""
    from cca_spark.oracles import with_routed

    sql = with_routed(ctx["sf_dir"], select)
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(ctx["work_dir"], "oracle", f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _duckdb()
    try:
        rows = [list(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


class SinkWrite:
    """The fan-out chain ``parse_facts`` -> ``enrich_facts`` ->
    ``route_facts`` -> ``write_sinks`` and the check of what it wrote."""

    SINK_SQL = (
        "SELECT sink, cast(date_bucket AS varchar) AS date_bucket, count(*) AS n "
        "FROM routed GROUP BY 1, 2"
    )

    def __init__(self, spark, transcripts, ctx: dict):
        self.spark = spark
        self.transcripts = transcripts
        self.ctx = ctx
        self.n_dirs = 0
        rows = _routed_oracle(ctx, self.SINK_SQL)
        self.want = {(s, d): n for s, d, n in rows}

    def routed(self, upto: str = "route") -> DataFrame:
        from cca_spark.operators.enrich import enrich_facts
        from cca_spark.operators.parse import parse_facts
        from cca_spark.operators.route import route_facts

        df = parse_facts(self.transcripts)
        if upto in ("enrich", "route"):
            df = enrich_facts(self.spark, df)
        if upto == "route":
            df = route_facts(df)
        return df

    def write(self) -> str:
        """Write the routed facts into a fresh directory; return it."""
        from cca_spark.operators.route import write_sinks

        self.n_dirs += 1
        out_dir = os.path.join(self.ctx["work_dir"], "sinks", f"{os.getpid()}-{self.n_dirs}")
        shutil.rmtree(out_dir, ignore_errors=True)
        write_sinks(self.routed(), out_dir)
        return out_dir

    def check(self, out_dir: str) -> list[str]:
        """Per-(sink, date_bucket) counts read back against the oracle, and
        ``entity_id`` unique across the sinks."""
        con = _duckdb()
        try:
            src = f"read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true)"
            rows = con.execute(
                f"SELECT sink, cast(date_bucket AS varchar), count(*) FROM {src} GROUP BY 1, 2"
            ).fetchall()
            n, n_ids = con.execute(
                f"SELECT count(*), count(DISTINCT entity_id) FROM {src}"
            ).fetchone()
        finally:
            con.close()
        problems = []
        got = {(s, d): c for s, d, c in rows}
        if got != self.want:
            diff = set(got.items()) ^ set(self.want.items())
            problems.append(f"{len(diff)} (sink, date_bucket) counts differ from the DuckDB oracle")
        if n != n_ids:
            problems.append(f"{n - n_ids} duplicate entity_id values in the sinks")
        return problems

    @staticmethod
    def corrupt(out_dir: str) -> str:
        os.remove(sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))[0])
        return out_dir

    def prefixes(self) -> list[tuple[str, str, object]]:
        """Cumulative prefixes after the scan: parse_facts, +enrich, +route
        into ``noop``, then +write. The write is not observed (an observed
        input makes the partitioned write run the parse kernel twice); its
        rows come from the file footers, and its output is checked."""

        def to_noop(upto):
            def run(obs):
                df, o = obs(self.routed(upto))
                noop(df)
                return {"rows": o.get["rows"]}

            return run

        return [
            ("parse_facts", "scan", to_noop("parse")),
            ("enrich", "parse_facts", to_noop("enrich")),
            ("route", "enrich", to_noop("route")),
            ("write", "route", lambda obs: {"out_dir": self.write()}),
        ]


class RouteAgg(Workload):
    name = "route_agg"
    full_layer = "aggregate"
    sf = 0.1

    AGG_SQL = (
        "SELECT sink, tool, cast(date_bucket AS varchar) AS date_bucket, "
        "count(*) AS n_rows, count(DISTINCT conv_id) AS n_convs "
        "FROM routed GROUP BY 1, 2, 3"
    )

    @classmethod
    def oracle(cls, ctx: dict):
        return {(s, t, d): (n, c) for s, t, d, n, c in _routed_oracle(ctx, cls.AGG_SQL)}

    def __init__(self, spark, ctx):
        super().__init__(spark, ctx)
        self.sinks = SinkWrite(spark, self.transcripts, ctx)

    def job(self):
        from cca_spark.plans.pipeline import fused_pipeline_agg

        return fused_pipeline_agg(self.spark, self.transcripts).collect()

    def check(self, out) -> list[str]:
        if isinstance(out, str):  # the traced write prefix's directory
            return self.sinks.check(out)
        got = {
            (r["sink"], r["tool"], str(r["date_bucket"])): (r["n_rows"], r["n_convs"])
            for r in out
        }
        want = self.ctx["oracle"]
        if len(got) != len(out):
            return ["duplicate aggregate keys"]
        if got != want:
            diff = set(got.items()) ^ set(want.items())
            return [f"{len(diff)} aggregate rows differ from the DuckDB oracle"]
        return []

    def corrupt(self, out):
        if isinstance(out, str):
            return self.sinks.corrupt(out)
        row = out[0].asDict()
        row["n_rows"] += 1
        return [type(out[0])(**row), *out[1:]]

    def release(self, out) -> None:
        if isinstance(out, str):
            shutil.rmtree(out, ignore_errors=True)

    def turns_matched(self) -> int:
        """Turns with at least one fact (untimed, traced runs only)."""
        from cca_spark.operators.parse import parse_facts

        return (
            parse_facts(self.transcripts, slim=True)
            .select("conv_id", "turn_idx")
            .distinct()
            .count()
        )

    def prefixes(self):
        """The aggregate chain (scan, parse partials, the fused aggregate),
        then the fan-out write chain over the same corpus."""
        from cca_spark.operators.parse import parse_fact_partials
        from cca_spark.plans.pipeline import fused_pipeline_agg

        def scan(obs):
            df, o = obs(self.transcripts)
            noop(df)
            return {"rows": o.get["rows"]}

        def parse(obs):
            df, o = obs(parse_fact_partials(self.transcripts), facts=F.sum("n"))
            noop(df)
            return {"rows": o.get["rows"], "facts": o.get["facts"]}

        def aggregate(obs):
            df, o = obs(fused_pipeline_agg(self.spark, self.transcripts))
            noop(df)
            return {"rows": o.get["rows"]}

        return [
            ("scan", None, scan),
            ("parse", "scan", parse),
            ("aggregate", "parse", aggregate),
            *self.sinks.prefixes(),
        ]


class Curate(Workload):
    name = "curate"
    full_layer = "containment"
    sf = 0.02
    sample_mod = 16

    @classmethod
    def oracle(cls, ctx: dict):
        con = _duckdb()
        try:
            (n,) = con.execute(
                f"SELECT count(DISTINCT md5(text)) FROM read_parquet('{ctx['corpus']}/*.parquet')"
            ).fetchone()
        finally:
            con.close()
        return {"survivors": n}

    def __init__(self, spark, ctx):
        super().__init__(spark, ctx)
        self.digests: set[str] = set()

    def _survivors(self):
        from cca_spark import chain

        docs = chain.turns_as_docs(self.transcripts)
        return chain.exact_dedup_survivors(chain.exact_dedup_groups(docs), docs)

    def _sample(self, survivors):
        # chosen by text, not by the seed: a seed-chosen subset would change
        # the pair graph, and with it the work, from seed to seed; the seed
        # still renames every doc (ids hash the salted conv_id)
        return survivors.filter(F.pmod(F.xxhash64("text"), F.lit(self.sample_mod)) == 0)

    def job(self):
        from cca_spark.operators import dedup as DD

        survivors, obs = observed(self._survivors())
        sample = self._sample(survivors).localCheckpoint(eager=True)
        pairs = DD.lsh_verified_pairs(sample).localCheckpoint(eager=True)
        contained = DD.ngram_containment_over(sample).collect()
        return {"survivors": obs.get["rows"], "pairs": pairs, "contained": contained}

    def check(self, out) -> list[str]:
        """Survivors against DuckDB; the pair and containment digests must
        agree across the jobs of a run and across runs with this seed."""
        problems = []
        want = self.ctx["oracle"]["survivors"]
        if out["survivors"] != want:
            problems.append(f"{out['survivors']} exact-dedup survivors, DuckDB says {want}")
        row = out["pairs"].select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("doc_a", "doc_b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        digest = [
            [int(row["n"]), int(row["h"])],
            sorted([r["doc_a"], r["doc_b"]] for r in out["contained"]),
        ]
        self.digests.add(json.dumps(digest))
        if len(self.digests) > 1:
            problems.append("pair digests differ between jobs of one run")
        path = os.path.join(self.ctx["work_dir"], "digests", f"curate-{self.ctx['corpus_sig']}.json")
        if os.path.exists(path):
            with open(path) as f:
                if json.load(f) != digest:
                    problems.append("pair digests differ from an earlier run with this seed")
        else:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(digest, f)
            os.replace(path + ".tmp", path)
        return problems

    def corrupt(self, out):
        return {**out, "survivors": out["survivors"] - 1}

    def prefixes(self):
        from cca_spark.operators import dedup as DD

        def sample(obs=None):
            df = self._sample(self._survivors())
            if obs is None:
                return df.localCheckpoint(eager=True)
            df, o = obs(df)
            return df.localCheckpoint(eager=True), o

        def exact_dedup(obs):
            df, o = obs(self._survivors())
            noop(df)
            return {"rows": o.get["rows"]}

        def shingle(obs):
            s, docs = sample(obs)
            df, o = obs(DD.corpus_shingles(s))
            noop(df)
            return {"rows": o.get["rows"], "docs": docs.get["rows"]}

        def sketch(obs):
            df, o = obs(DD.minhash_signatures(sample()))
            noop(df)
            return {"rows": o.get["rows"]}

        def pairs(obs):
            df, o = obs(DD.lsh_verified_pairs(sample()))
            noop(df)
            return {"rows": o.get["rows"]}

        def containment(obs):
            s = sample()
            noop(DD.lsh_verified_pairs(s))
            df, o = obs(DD.ngram_containment_over(s))
            noop(df)
            return {"rows": o.get["rows"]}

        def components(obs):
            p = DD.lsh_verified_pairs(sample()).localCheckpoint(eager=True)
            df, o = obs(DD.connected_min_labels(p, max_iters=30))
            noop(df)
            return {"rows": o.get["rows"]}

        return [
            ("exact_dedup", None, exact_dedup),
            ("shingle", "exact_dedup", shingle),
            ("sketch", "shingle", sketch),
            ("pairs", "sketch", pairs),
            ("containment", "pairs", containment),
            # not in the timed job: its ~140 sub-second Spark jobs per run
            # swing the job wall by 2x between runs on a shared host
            ("components", "pairs", components),
        ]


WORKLOADS = {w.name: w for w in (RouteAgg, Curate)}
