"""Deterministic synthetic transcript table (FIXTURES.md §1-2).

Generated entirely with Spark expressions over ``spark.range`` — no Python
loops, no driver-side data, no RNG state: every value is a pure function of
(seed, conv index, turn index) via xxhash64, so the fixture is reproducible
at any scale and any parallelism (unlike F.rand, whose stream depends on
partitioning). That is what lets the same generator produce the 10^4-turn
CI fixture and a 10^8-turn bench table with identical per-row values.

Skew fixture: the first ``hot_convs`` conversations get ``hot_factor``×
the turns — exercises the engine's skew handling.

Corruption knobs (each injects known violation rows, FIXTURES.md §1):
``null_conv_id  null_turn_idx  dup_key  gap_turn_idx  role_invalid
dangling_tool  ts_regression``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ROLES = ("system", "user", "assistant", "tool")
TOOLS = (
    ("search", "1.2.0"),
    ("calculator", "0.9.1"),
    ("code_exec", "2.0.0"),
    ("browser", "1.0.3"),
    ("retrieval", "3.1.4"),
)
_WORDS = (
    "the quick brown fox jumps over lazy dog spark shuffle partition "
    "schema resolve decimal enum default alias turn conversation agent "
    "tool call result stream batch window join aggregate validate"
).split()
_UNICODE_SAMPLES = ("😀👾🚀", "héllo wörld", "данные", "数据校验", "פַּרְשָׁנוּת")


def _h(*cols, seed: int = 42):
    return F.xxhash64(F.lit(seed), *cols)


def tool_catalog(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(list(TOOLS), "tool_name string, tool_version string")


def transcripts(
    spark: SparkSession,
    n_convs: int = 1_000,
    turns_per_conv: int = 10,
    hot_convs: int = 2,
    hot_factor: int = 100,
    seed: int = 42,
    corruptions: frozenset[str] | set[str] = frozenset(),
    n_partitions: int | None = None,
) -> DataFrame:
    """Build the transcript table (conv_id, turn_idx, role, text, tool, ts)."""
    conv = spark.range(n_convs, numPartitions=n_partitions)
    n_turns = (
        F.when(F.col("id") < hot_convs, F.lit(turns_per_conv * hot_factor))
        .otherwise(
            # vary 50%..150% of the base, deterministically per conversation
            (F.lit(turns_per_conv) * (50 + F.pmod(_h(F.col("id"), seed=seed), 100)) / 100)
            .cast("int")
            + 1
        )
    )
    df = (
        conv.withColumn("conv_id", F.format_string("conv-%08d", F.col("id")))
        .withColumn("n_turns", n_turns)
        .select(
            "id",
            "conv_id",
            F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
        )
    )
    h = _h(F.col("id"), F.col("turn_idx"), seed=seed)
    role = (
        F.when(F.col("turn_idx") == 0, F.lit("system"))
        .when(F.pmod(h, 11) == 0, F.lit("tool"))
        .when(F.pmod(F.col("turn_idx"), 2) == 1, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    # deterministic lorem: 5-12 words picked by hash, occasional unicode tail
    # word lists as array columns: F.lit(list) expands to array(lit(x), ...),
    # one py4j call and one Literal node per element
    words = F.lit(list(_WORDS))
    uni = F.lit(list(_UNICODE_SAMPLES))
    n_words = (F.pmod(h, 8) + 5).cast("int")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                words, (F.pmod(_h(F.col("id"), F.col("turn_idx"), i, seed=seed), len(_WORDS)) + 1).cast("int")
            ),
        ),
    )
    text = F.when(
        F.pmod(h, 13) == 0,
        F.concat(text, F.lit(" "), F.element_at(uni, (F.pmod(h, len(_UNICODE_SAMPLES)) + 1).cast("int"))),
    ).otherwise(text)
    tool_names = F.lit([t[0] for t in TOOLS])
    tool = F.when(
        role == "tool",
        F.element_at(tool_names, (F.pmod(h, len(TOOLS)) + 1).cast("int")),
    )
    # monotone non-decreasing per conversation: conv epoch + cumulative-ish gap
    ts = F.timestamp_seconds(
        F.lit(1_700_000_000)
        + F.col("id") * 3600
        + F.col("turn_idx") * 7
        + F.pmod(h, 5)  # jitter < gap step, preserves monotonicity
    )
    df = df.select(
        "id",
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )

    c = set(corruptions)
    if "role_invalid" in c:
        df = df.withColumn(
            "role", F.when(F.pmod(h, 97) == 3, F.lit("operator")).otherwise(F.col("role"))
        )
    if "dangling_tool" in c:
        df = df.withColumn(
            "tool",
            F.when((F.col("role") == "tool") & (F.pmod(h, 29) == 5), F.lit("ghost_tool")).otherwise(
                F.col("tool")
            ),
        )
    if "null_conv_id" in c:
        df = df.withColumn(
            "conv_id", F.when(F.pmod(h, 101) == 7, F.lit(None)).otherwise(F.col("conv_id"))
        )
    if "null_turn_idx" in c:
        df = df.withColumn(
            "turn_idx", F.when(F.pmod(h, 103) == 9, F.lit(None)).otherwise(F.col("turn_idx"))
        )
    if "gap_turn_idx" in c:
        df = df.withColumn(
            "turn_idx",
            F.when(F.pmod(h, 107) == 11, F.col("turn_idx") + 1000).otherwise(F.col("turn_idx")),
        )
    if "ts_regression" in c:
        df = df.withColumn(
            "ts",
            F.when(
                (F.pmod(h, 109) == 13) & (F.col("turn_idx") > 0),
                F.col("ts") - F.expr("INTERVAL 1 HOUR"),
            ).otherwise(F.col("ts")),
        )
    if "dup_key" in c:
        dups = df.where(F.pmod(h, 113) == 17)
        df = df.unionByName(dups)

    return df.select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "role", "text", "tool", "ts")


def conversation_profile(df: DataFrame, catalog: DataFrame) -> DataFrame:
    """Per-conversation verdict card — the north rule's pass/fail at the
    conversation grain (the natural unit a transcript consumer acts on):
    for every conv_id, the turn count, tool-call count, and one violation
    counter per constraint family, plus an overall ``passed`` flag.

    Counters (all exact integers — oracle-exact):
      n_invalid_role   role present but outside the ROLES enum
      n_dangling_tool  tool named but absent from the catalog
      n_dup_keys       surplus rows beyond distinct turn_idx values
      n_gaps           turns whose turn_idx != its 0-based rank
                       (ordered by turn_idx, ts — the ts tiebreak makes
                       the count deterministic under duplicate keys)
      n_ts_regressions turns whose ts precedes the previous turn's ts
                       in that same order

    Scale shape: ONE exchange — the window partitions by conv_id and the
    follow-up groupBy aggregates on the same key, so Catalyst reuses the
    partitioning (no second shuffle); the catalog membership check is a
    broadcast left join (catalogs are small relative to the corpus, but
    unbounded — never a collected isin literal). Hot conversations cost
    O(conv size) in one task, same bound the engine's SequenceConstraint
    already carries.

    Contract: ``turn_idx`` must be non-NULL. With NULL keys,
    ``n_dup_keys`` (count(*) − countDistinct skips NULLs) would count
    every NULL row as a duplicate, and the window order would diverge
    from a DuckDB replay (Spark sorts NULLS FIRST ascending, DuckDB
    NULLS LAST) — feed NULL-key rows to the ValidationEngine's not_null
    constraint instead of this profile.
    """
    cat = catalog.select(F.col(catalog.columns[0]).alias("_cat_tool")).distinct()
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    seq = (
        df.join(
            F.broadcast(cat), F.col("tool") == F.col("_cat_tool"), "left"
        )
        .withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("_prev_ts", F.lag("ts").over(w))
    )
    agg = seq.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count("tool").alias("n_tool_turns"),
        F.count(
            F.when(
                F.col("role").isNotNull() & ~F.col("role").isin(*ROLES), 1
            )
        ).alias("n_invalid_role"),
        F.count(
            F.when(F.col("tool").isNotNull() & F.col("_cat_tool").isNull(), 1)
        ).alias("n_dangling_tool"),
        (F.count(F.lit(1)) - F.countDistinct("turn_idx")).alias("n_dup_keys"),
        F.count(F.when(F.col("turn_idx") != F.col("_rn"), 1)).alias("n_gaps"),
        F.count(
            F.when(
                F.col("_prev_ts").isNotNull()
                & (F.col("ts") < F.col("_prev_ts")),
                1,
            )
        ).alias("n_ts_regressions"),
    )
    return agg.select(
        "*",
        (
            (F.col("n_invalid_role") == 0)
            & (F.col("n_dangling_tool") == 0)
            & (F.col("n_dup_keys") == 0)
            & (F.col("n_gaps") == 0)
            & (F.col("n_ts_regressions") == 0)
        ).alias("passed"),
    )
