"""Seeded transcript corpus with ground truth, owned by the benchmark.

Keeps the shape of ``zentity_spark.generator.synth_transcripts`` (entity
e owns 1-3 conversations, each with name/email/phone/signup turns plus
``filler_turns`` assistant turns; later conversations carry a
one-character name typo and a reformatted phone; a hot slice shares one
phone value) and adds:

- a seed: every hash that picks names, emails, phones, signups, the hot
  slice and the split set is salted with it, so another seed gives
  another corpus of the same shape and number of conversations;
- split-attribute entities (about 1/``split_every``; none when it is
  0): three conversations, each carrying only part of the attributes --
  {name, email}, {email, signup}, {name, signup}. The third links to
  the first two only through their accumulated value set, which is what
  entity closure exists for;
- opaque conversation ids (an md5 prefix), so the program cannot read
  the entity out of the id. Ground truth comes back separately.

Everything is Spark column expressions over ``spark.range``: the same
seed and size give the same rows on any partitioning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HOT_PHONE = "000-000-0000"
SIGNUP_FORMAT = "yyyy-MM-dd HH:mm:ss"


@dataclass
class Corpus:
    turns: DataFrame   # the program's only input (transcripts schema)
    truth: DataFrame   # (conv_id, eid): the entity each conversation belongs to
    convs: DataFrame   # (conv_id, eid, j, name, email, phone, signup): attribute values per conversation, nulls where absent


def _h(seed: int, salt: int, *cols) -> F.Column:
    return F.xxhash64(F.lit(seed), F.lit(salt), *cols)


def make_corpus(spark: SparkSession, seed: int, n_entities: int,
                filler_turns: int = 8, hot_fraction: float = 0.01,
                split_every: int = 12) -> Corpus:
    eid = F.col("id")
    # as in synth_transcripts, entity e owns 1 + e % 3 conversations, so
    # every seed gives the same number of conversations; split entities
    # are drawn among the three-conversation ones
    n_convs = (F.lit(1) + F.pmod(eid, F.lit(3))).cast("int")
    split = ((n_convs == 3) & (F.pmod(_h(seed, 1, eid), F.lit(max(1, split_every // 3))) == 0)
             if split_every else F.lit(False))
    ents = spark.range(n_entities).select(
        eid.alias("eid"),
        split.alias("split"),
        n_convs.alias("n_convs"),
        # letter-led hex: phonetically diverse, one fuzzy block per name
        F.concat(F.lit("p"), F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), F.lit("n"), eid.cast("string"))), 1, 9
        )).alias("base_name"),
        F.concat(F.lit("u"), F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), F.lit("e"), eid.cast("string"))), 1, 12
        ), F.lit("@example.com")).alias("email"),
        F.lpad(F.pmod(_h(seed, 3, eid), F.lit(10_000_000)).cast("string"), 10, "0")
        .alias("phone_digits"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(_h(seed, 4, eid), F.lit(86400 * 365))
        ).alias("signup_ts"),
    )

    convs = ents.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("n_convs") - 1)).alias("j")
    ).withColumn("conv_id", F.concat(F.lit("c"), F.substring(
        F.md5(F.concat_ws(":", F.lit(seed), F.lit("c"),
                          F.col("eid").cast("string"), F.col("j").cast("string"))), 1, 16
    )))

    # single-character drop for j>0: edit distance 1, inside fuzziness=1
    name = F.when(F.col("j") == 0, F.col("base_name")).otherwise(F.concat(
        F.expr("substring(base_name, 1, 4 + j % 3)"),
        F.expr("substring(base_name, 6 + j % 3)"),
    ))
    hot = F.pmod(_h(seed, 5, F.col("conv_id")), F.lit(10_000)) < F.lit(int(hot_fraction * 10_000))
    phone = F.when(hot, F.lit(HOT_PHONE)).when(
        F.col("j") % 2 == 0,
        F.concat(F.substring("phone_digits", 1, 3), F.lit("-"), F.substring("phone_digits", 4, 7)),
    ).otherwise(
        F.concat(F.lit("("), F.substring("phone_digits", 1, 3), F.lit(") "),
                 F.substring("phone_digits", 4, 7))
    )
    # signup jitter within ±6h, inside the model's 1d window
    jitter = F.pmod(_h(seed, 6, F.col("conv_id")), F.lit(43200)) - F.lit(21600)
    signup = F.date_format(
        F.timestamp_seconds(F.unix_timestamp("signup_ts") + jitter), SIGNUP_FORMAT
    )

    j = F.col("j")
    split_c = F.col("split")
    has_name = ~split_c | (j != 1)
    has_email = ~split_c | (j != 2)
    has_signup = ~split_c | (j != 0)
    attrs = convs.select(
        "conv_id", "eid", "j", F.col("signup_ts").alias("ts"),
        F.when(has_name, name).alias("name"),
        F.when(has_email, F.col("email")).alias("email"),
        F.when(~split_c, phone).alias("phone"),
        F.when(has_signup, signup).alias("signup"),
    )

    texts = F.filter(F.array(
        *(F.concat(F.lit(f"{a}="), F.col(a)) for a in ("name", "email", "phone", "signup"))
    ), lambda t: t.isNotNull())
    attr_turns = attrs.select(
        "conv_id", "ts", F.posexplode(texts).alias("turn_idx", "text")
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )
    filler = attrs.select(
        "conv_id", "ts",
        F.explode(F.sequence(F.lit(4), F.lit(4 + filler_turns - 1))).alias("turn_idx"),
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int"),
        F.lit("assistant").alias("role"),
        F.concat(F.lit("note: "), F.md5(F.concat_ws(
            ":", F.lit(seed), "conv_id", F.col("turn_idx").cast("string")))).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )
    return Corpus(
        turns=attr_turns.unionByName(filler),
        truth=attrs.select("conv_id", "eid"),
        convs=attrs.drop("ts"),
    )
