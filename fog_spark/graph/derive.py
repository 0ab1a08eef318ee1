"""Edge derivation: source-code repository table -> link graph.

Replaces FOG's ``convert`` program (reference: convert/convert.cpp,
process_edgelist.cpp — SNAP text to binary CSR). Our input is the
north_rule's Iceberg-shaped table ``(repo, path, commit, lang, content)``
and the "parse" is import/include extraction; the CSR materialization
disappears entirely (the edge DataFrame + hash partitioning IS the
storage format; supersteps join it directly, see
engine/superstep.prepare_gather_edges).

Scale notes:
- extraction runs JVM-side via regexp_extract_all (whole-stage codegen;
  a pandas-UDF variant exists for parity testing and for grammars regex
  can't express);
- reference resolution is an equi-join against the file index on
  (repo, dst_path) — broadcastable per-repo, shuffle join globally;
- dense vertex ids avoid both a global window sort and nondeterministic
  zipWithIndex: range-partition by (repo, path), then per-partition
  row_number + an exact prefix-sum of partition counts (two jobs total,
  no single-task bottleneck at 10^12 files).
- the per-row invariant sha256(content) (BASELINE.json input_hint) is
  computed with the built-in sha2 and verified by tests before/after
  every stage.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

IMPORT_RE_PY = r"(?m)^(?:import\s+(\w+)|from\s+(\w+)\s+import)"
INCLUDE_RE_C = r"(?m)^#include\s+\"([^\"]+)\""


def with_content_sha(repos: DataFrame) -> DataFrame:
    return repos.withColumn("content_sha", F.sha2("content", 256))


def _extract_refs_builtin(repos: DataFrame) -> DataFrame:
    """(repo, path, dst_path) via JVM regexp — the fast path.

    ONE scan: the py and c/cpp branches used to be two filtered scans
    unioned, which evaluated the (dominant) content column twice when
    the input is a generated/derived table rather than a stored one. A
    per-row CASE over lang extracts either grammar in a single pass;
    row multiset is identical (explode of the empty array yields no
    rows, same as the old lang filters)."""
    py_mods = F.filter(
        F.concat(
            F.regexp_extract_all(F.col("content"), F.lit(IMPORT_RE_PY), F.lit(1)),
            F.regexp_extract_all(F.col("content"), F.lit(IMPORT_RE_PY), F.lit(2)),
        ),
        lambda m: m != "",
    )
    refs = (
        F.when(
            F.col("lang") == "python",
            F.transform(py_mods, lambda m: F.concat(F.lit("src/"), m, F.lit(".py"))),
        )
        .when(
            F.col("lang").isin("c", "cpp"),
            F.transform(
                F.regexp_extract_all(F.col("content"), F.lit(INCLUDE_RE_C), F.lit(1)),
                lambda h: F.concat(F.lit("src/"), h),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    return repos.select("repo", "path", F.explode(refs).alias("dst_path"))


_REFS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("dst_path", T.StringType()),
    ]
)


def _extract_refs_pandas(repos: DataFrame) -> DataFrame:
    """Arrow-vectorized pandas-UDF extraction (no per-row Python loops;
    pandas .str ops are vectorized over the whole Arrow batch). Kept for
    parity tests and for languages whose reference grammar outgrows a
    single regex."""
    import re

    py_re = re.compile(r"^(?:import\s+(\w+)|from\s+(\w+)\s+import)", re.M)
    c_re = re.compile(r"^#include\s+\"([^\"]+)\"", re.M)

    def extract(batches):
        for pdf in batches:
            out = []
            is_py = pdf["lang"] == "python"
            is_c = pdf["lang"].isin(["c", "cpp"])  # match _extract_refs_builtin's lang filter
            for mask, rex, fmt in ((is_py, py_re, "src/{}.py"), (is_c, c_re, "src/{}")):
                sub = pdf[mask]
                if sub.empty:
                    continue
                found = sub["content"].str.findall(rex)
                lens = found.map(len)
                nz = lens > 0
                if not nz.any():
                    continue
                exploded = found[nz].explode()
                mods = exploded.map(lambda m: next(g for g in (m if isinstance(m, tuple) else (m,)) if g))
                out.append(
                    pd.DataFrame(
                        {
                            "repo": sub["repo"][nz].repeat(lens[nz]).values,
                            "path": sub["path"][nz].repeat(lens[nz]).values,
                            "dst_path": mods.map(fmt.format).values,
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {"repo": [], "path": [], "dst_path": []}
            )

    return repos.select("repo", "path", "lang", "content").mapInPandas(extract, schema=_REFS_SCHEMA)


def assign_dense_ids(files: DataFrame, partitions: int | None = None) -> DataFrame:
    """(repo, path) -> dense int64 ``id``, deterministic by (repo, path) order.

    Range-partition + per-partition row_number + exact partition-count
    prefix sum: O(1) driver state, no global single-partition window.
    """
    spark = files.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = (
        files.select("repo", "path")
        .distinct()
        .repartitionByRange(n, "repo", "path")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # freeze the sampled range boundaries
    )
    counts = {r["_pid"]: r["cnt"] for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy("repo", "path")
    out = parted.select(
        "repo",
        "path",
        (F.row_number().over(w) - 1 + omap[F.col("_pid")]).cast("long").alias("id"),
    )
    # checkpoint the FINISHED frame: every caller fans it out at least
    # twice (src index, dst index, vertex set) and the per-partition
    # sort + offset map would otherwise re-execute per consumer
    return out.localCheckpoint(eager=True)


@dataclass
class DerivedGraph:
    files: DataFrame  # (repo, path, id)
    edges: DataFrame  # (src, dst, weight)
    vertices: DataFrame  # (id)


def derive_graph(repos: DataFrame, extractor: str = "builtin") -> DerivedGraph:
    """Full convert-replacement: repos table -> (files, edges, vertices)."""
    refs = _extract_refs_builtin(repos) if extractor == "builtin" else _extract_refs_pandas(repos)
    files = assign_dense_ids(repos)
    # rename-before-join: files descends from the same plan as refs, so
    # unaliased column references would collapse to trivially-true
    # self-comparisons (repo#N = repo#N) and silently cross-join repos.
    src_ix = files.select(F.col("repo").alias("_sr"), F.col("path").alias("_sp"), F.col("id").alias("src"))
    dst_ix = files.select(F.col("repo").alias("_dr"), F.col("path").alias("_dp"), F.col("id").alias("dst"))
    edges = (
        refs.join(src_ix, (F.col("repo") == F.col("_sr")) & (F.col("path") == F.col("_sp")))
        .join(dst_ix, (F.col("repo") == F.col("_dr")) & (F.col("dst_path") == F.col("_dp")))
        .select(
            "src",
            "dst",
            (((F.col("src") * 31 + F.col("dst")) % 90 + 10) / 10.0).alias("weight"),
        )
        .distinct()
    )
    return DerivedGraph(files=files, edges=edges, vertices=files.select("id"))
