"""Semi-structured payload normalization (SURVEY.md Q10: S3, S4, J4, F8,
F10).

Reference semantics (HW-2): a Postgres table stores a JSON payload
(pets with optional favFoods arrays) and an XML payload (nutrition
facts: daily-values with unit attributes, foods with attributed
children). Driver Python parses them row-at-a-time and INSERTs into
normalized tables (sources_to_linear.py:44-168).

Spark-first: schema'd ``from_json`` / ``from_xml`` (JVM-side parsing,
no Python), ``explode`` fan-out for child tables (J4), surrogate keys
via ``row_number`` over a deterministic ordering (SERIAL analogue).
XML attributes surface as ``_attr`` struct fields per spark-xml
convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

PETS_SCHEMA = T.StructType(
    [
        T.StructField(
            "pets",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("species", T.StringType()),
                        T.StructField("favFoods", T.ArrayType(T.StringType())),
                        T.StructField("birthYear", T.IntegerType()),
                        T.StructField("photo", T.StringType()),
                    ]
                )
            ),
        )
    ]
)


def normalize_pets_json(payloads: DataFrame, payload_col: str = "payload") -> tuple[DataFrame, DataFrame]:
    """JSON pets payload -> (pets, pet_favfoods) normalized tables.

    - pets: pet_id (surrogate, dense by array position), name, species,
      birth_year, fav_foods_joined (F8 ';'.join analogue via concat_ws)
    - pet_favfoods: (pet_id, food) one row per favFoods element —
      missing favFoods (optional field) yields no child rows.
    """
    parsed = payloads.select(
        F.from_json(F.col(payload_col), PETS_SCHEMA).alias("doc")
    )
    exploded = parsed.select(
        F.posexplode(F.col("doc.pets")).alias("pos", "pet")
    )
    w = Window.orderBy("pos")
    pets = exploded.select(
        F.row_number().over(w).alias("pet_id"),
        F.col("pet.name").alias("name"),
        F.col("pet.species").alias("species"),
        F.col("pet.birthYear").alias("birth_year"),
        F.concat_ws(";", F.col("pet.favFoods")).alias("fav_foods_joined"),
        F.col("pet.favFoods").alias("fav_foods"),
    )
    favfoods = pets.select(
        "pet_id", F.explode("fav_foods").alias("food")
    )
    return pets.drop("fav_foods"), favfoods


NUTRITION_XML_SCHEMA = """
    daily_values STRUCT<
        total_fat: STRUCT<_units: STRING, _VALUE: BIGINT>,
        sodium: STRUCT<_units: STRING, _VALUE: BIGINT>
    >,
    food ARRAY<STRUCT<
        name: STRING,
        serving: STRUCT<_units: STRING, _VALUE: BIGINT>,
        calories: STRUCT<_total: BIGINT, _fat: BIGINT>,
        vitamins: STRUCT<a: BIGINT, c: BIGINT>
    >>
"""


def normalize_nutrition_xml(payloads: DataFrame, payload_col: str = "payload") -> tuple[DataFrame, DataFrame]:
    """XML nutrition payload -> (foods, daily_values) tables (F10).

    Attributes (units/total/fat) surface as ``_attr`` fields of the
    parsed structs; element text of an attributed leaf is ``_VALUE``.
    """
    parsed = payloads.select(
        F.from_xml(F.col(payload_col), NUTRITION_XML_SCHEMA).alias("doc")
    )
    foods = parsed.select(F.posexplode("doc.food").alias("pos", "f")).select(
        F.row_number().over(Window.orderBy("pos")).alias("food_id"),
        F.col("f.name").alias("name"),
        F.col("f.serving._VALUE").alias("serving_amount"),
        F.col("f.serving._units").alias("serving_units"),
        F.col("f.calories._total").alias("calories_total"),
        F.col("f.calories._fat").alias("calories_fat"),
        F.col("f.vitamins.a").alias("vitamin_a"),
        F.col("f.vitamins.c").alias("vitamin_c"),
    )
    daily_values = parsed.select(
        F.col("doc.daily_values.total_fat._VALUE").alias("total_fat"),
        F.col("doc.daily_values.total_fat._units").alias("total_fat_units"),
        F.col("doc.daily_values.sodium._VALUE").alias("sodium"),
        F.col("doc.daily_values.sodium._units").alias("sodium_units"),
    )
    return foods, daily_values


SPARSE_ITEMS_XML_SCHEMA = """
    item ARRAY<STRUCT<
        _id: BIGINT,
        _cat: STRING,
        _grade: STRING,
        dims: STRUCT<_units: STRING, _w: BIGINT, _h: BIGINT>,
        note: STRING,
        price: STRUCT<_ccy: STRING, _VALUE: BIGINT>
    >>
"""


def normalize_sparse_items_xml(
    payloads: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Attribute-heavy XML with MISSING OPTIONAL nodes -> flat table
    (F10 second fixture; reference shape HW-2/init/init.sql:42-45).

    Exercises the sparse side of from_xml's contract the nutrition
    normalizer doesn't: an absent ATTRIBUTE parses to NULL, an absent
    ELEMENT parses to a NULL struct whose field access is null-safe
    (F9), and an attribute+text leaf carries both ``_attr`` fields and
    ``_VALUE``. No surrogate-key window — the id attribute is the
    natural key, so this is a pure per-row Generate (scales with the
    scan, no ordering pass)."""
    parsed = payloads.select(
        F.from_xml(F.col(payload_col), SPARSE_ITEMS_XML_SCHEMA).alias("doc")
    )
    return parsed.select(F.explode("doc.item").alias("i")).select(
        F.col("i._id").alias("item_id"),
        F.col("i._cat").alias("category"),
        F.col("i._grade").alias("grade"),
        F.col("i.dims._units").alias("dims_units"),
        F.col("i.dims._w").alias("dims_w"),
        F.col("i.dims._h").alias("dims_h"),
        F.col("i.note").alias("note"),
        F.col("i.price._VALUE").alias("price"),
        F.col("i.price._ccy").alias("price_ccy"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 96,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Parent-child fan-out of documents into overlapping token-window
    chunks (the context-window splitting step of training-data and
    retrieval pipelines): one row per (doc, chunk) with

      - ``chunk_id``    0-based window index within the doc
      - ``chunk_text``  tokens [chunk_id*stride+1, +chunk_tokens] joined
                        by single spaces (canonical whitespace)
      - ``n_chunk_tokens``  actual token count (the last window may be
                        short)

    ``stride < chunk_tokens`` overlaps consecutive windows by
    ``chunk_tokens - stride`` tokens; ``stride == chunk_tokens`` tiles.
    Windows start while their start position is within the document, so
    every token lands in >= 1 chunk and empty documents produce no
    rows (same child-table contract as the J4 normalizers: missing
    children yield no rows).

    Scale shape: pure per-row array math below a single Generate
    (posexplode) — no shuffle at all; chunking parallelizes with the
    scan. The J4 surrogate-key window is NOT used: (id_col, chunk_id)
    is already a deterministic natural key, so no global ordering pass.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        # a gap of (stride - chunk_tokens) tokens between windows would
        # break the every-token-lands-in->=1-chunk contract above
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) would "
            "skip tokens between windows"
        )
    from ..functions.text import whitespace_tokens

    toks = whitespace_tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n > 0, F.ceil((n - 1) / F.lit(stride)) + 1).otherwise(
        F.lit(0)
    ).cast("int")
    # guard: ceil((n-1)/stride)+1 overcounts when the last window would
    # start past the text — only starts <= n spawn windows
    chunks = F.when(
        n > 0,
        F.filter(
            F.transform(
                F.sequence(F.lit(0), n_chunks),
                lambda c: F.struct(
                    c.alias("chunk_id"),
                    (c * stride + 1).alias("start"),
                ),
            ),
            lambda s: s["start"] <= n,
        ),
    ).otherwise(F.array().cast("array<struct<chunk_id:int,start:int>>"))
    return docs.select(
        id_col, F.explode(chunks).alias("__c"), toks.alias("__toks")
    ).select(
        id_col,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.concat_ws(
            " ", F.slice(F.col("__toks"), F.col("__c.start"), chunk_tokens)
        ).alias("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.size(F.col("__toks")) - F.col("__c.start") + 1
        ).cast("long").alias("n_chunk_tokens"),
    )


def assemble_trajectories(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    item_col: str,
    sep: str = ";",
) -> DataFrame:
    """Assemble per-group ordered item sequences — the SFT/trajectory
    construction step of a training-data pipeline (events → dialog
    turns → one training example per conversation). Returns one row
    per group: ``group_cols`` + ``n_items`` BIGINT + ``trajectory``
    (items joined by ``sep`` in ``order_cols`` order, ties broken by
    the item itself so the output is a pure function of the data).

    Scale shape (100 TB): ONE shuffle on the group key; ordering is
    row-local array_sort over each group's collected items — no global
    sort, no window. Groups are conversation-sized (bounded); a group
    too large to collect into one array is a data bug upstream, the
    same contract as collect_list anywhere. Reference analogue: the
    per-session aggregation of mongo_to_postgres_replication.py:218-237
    upgraded from scalar stats to sequence assembly.
    """
    order_struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(item_col).alias("__item")
    )
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(order_struct)),
                lambda x: x["__item"],
            ),
        ).alias("trajectory"),
    )


def preference_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
    min_margin: int | float = 0,
) -> DataFrame:
    """DPO/RLHF preference-pair assembly: per prompt group, the
    highest-scored candidate becomes ``chosen`` and the lowest-scored
    ``rejected`` (ties break on id — smaller id wins the chosen slot
    and loses the rejected slot, so the pair is deterministic).
    Groups with fewer than two candidates, or where chosen == rejected
    after tie-breaking, or whose score margin is below ``min_margin``
    (no real preference signal) are dropped.

    One aggregation over the group key: max_by/min_by carry the ids
    with the extreme scores in the same map-side-combinable pass — no
    window, no per-group sort, no self-join. Output: (group, chosen_id,
    rejected_id, chosen_score, rejected_score, margin).
    """
    gid = F.col(group_col)
    # encode the tie-break INTO the ordered struct: higher score wins;
    # equal scores -> SMALLER id wins chosen (struct max on (score, -id))
    chosen = F.max_by(
        F.col(id_col), F.struct(F.col(score_col), -F.col(id_col))
    )
    rejected = F.min_by(
        F.col(id_col), F.struct(F.col(score_col), -F.col(id_col))
    )
    agg = df.groupBy(gid.alias("group")).agg(
        F.count(F.lit(1)).alias("__n"),
        chosen.alias("chosen_id"),
        rejected.alias("rejected_id"),
        F.max(F.col(score_col)).alias("chosen_score"),
        F.min(F.col(score_col)).alias("rejected_score"),
    )
    return (
        agg.where(
            (F.col("__n") >= 2)
            & (F.col("chosen_id") != F.col("rejected_id"))
            & (
                F.col("chosen_score") - F.col("rejected_score")
                >= F.lit(min_margin)
            )
        )
        .select(
            "group",
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )
