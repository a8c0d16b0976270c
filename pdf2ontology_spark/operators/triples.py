"""Triple extraction — the parity artifact (FIXTURES.md F3).

Two deterministic extractors:

- ``table_triples``: productionized version of the reference's
  rule-based fallback (/root/reference/src/knowledge_extractor/
  triplet_extractor.py:339-384): for every (key, value) of a table row
  with a non-empty value and key != "row_header", emit
  (subject=row_header [concept], predicate=related_to, object=value),
  confidence 0.6, source_sentence "{row_header} has {key} of {value}",
  extraction_method "fallback_rule_based". Object typing follows the
  prompt rules (triplet_extractor.py:183-191): numeric pattern ->
  numeric, gazetteer location -> location, else other.

  NOTE: the reference fallback only processes the FIRST 3 rows per table
  (``data_rows[:3]``, triplet_extractor.py:358) — a degraded-mode
  artifact. The engine processes ALL rows by default (no silent data
  loss at scale); pass ``reference_strict=True`` to reproduce the cap
  exactly.

- ``text_triples``: sentence-pattern relation extraction over text spans
  (SURVEY.md §7.2 step 1), one JVM-side pass: each pattern is evaluated
  with regexp_extract into an array of candidate structs, exploded, and
  empty matches dropped. Predicates are drawn from the reference's
  RelationType enum (enums.py:42-64).

Everything stays inside whole-stage codegen — no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf2ontology_spark import rules
from pdf2ontology_spark.schemas import CELL


def classify_value_col(c: Column) -> Column:
    """Entity typing for object values (prompt rules 183-191)."""
    return (
        F.when(c.rlike(rules.NUMERIC_RE), F.lit("numeric"))
        .when(c.isin(rules.LOCATIONS), F.lit("location"))
        .otherwise(F.lit("other"))
    )


def table_triples(entries: DataFrame, reference_strict: bool = False) -> DataFrame:
    """semantic entries -> triples (schemas.TRIPLES)."""
    df = entries
    if reference_strict:
        # reproduce the reference's data_rows[:3] cap (triplet_extractor.py:358)
        w = Window.partitionBy("doc_id", "table_id").orderBy("row_idx")
        df = (
            df.withColumn("_rk", F.dense_rank().over(w))
            .filter(F.col("_rk") <= 3)
            .drop("_rk")
        )
    v = F.col("value")
    return (
        df.filter(v.isNotNull() & (v != "") & (F.col("key") != "row_header"))
        .select(
            "doc_id",
            "table_id",
            F.col("row_header").alias("subj_name"),
            F.lit("concept").alias("subj_type"),
            F.lit("related_to").alias("predicate"),
            v.alias("obj_name"),
            classify_value_col(v).alias("obj_type"),
            F.lit(rules.FALLBACK_CONFIDENCE).alias("confidence"),
            F.concat(
                F.col("row_header"), F.lit(" has "), F.col("key"), F.lit(" of "), v
            ).alias("source_sentence"),
            F.lit(rules.FALLBACK_METHOD).alias("extraction_method"),
        )
    )


def text_triples(spans: DataFrame) -> DataFrame:
    """text spans -> cross-span merge (W5) -> pattern-matched triples,
    single JVM pass over the merged sentence stream."""
    from pdf2ontology_spark.operators.segment import merged_text_sentences

    cands = F.array(
        *[
            F.struct(
                F.regexp_extract("sentence", pat, 1).alias("subj_name"),
                F.lit(st).alias("subj_type"),
                F.lit(pred).alias("predicate"),
                F.regexp_extract("sentence", pat, 2).alias("obj_name"),
                F.lit(ot).alias("obj_type"),
            )
            for pat, pred, st, ot in rules.TEXT_PATTERNS
        ]
    )
    return (
        merged_text_sentences(spans)
        .select("doc_id", "sentence", F.explode(cands).alias("m"))
        .filter((F.col("m.subj_name") != "") & (F.col("m.obj_name") != ""))
        .select(
            "doc_id",
            F.lit(None).cast("string").alias("table_id"),
            F.col("m.subj_name").alias("subj_name"),
            F.col("m.subj_type").alias("subj_type"),
            F.col("m.predicate").alias("predicate"),
            F.col("m.obj_name").alias("obj_name"),
            F.col("m.obj_type").alias("obj_type"),
            F.lit(rules.PATTERN_CONFIDENCE).alias("confidence"),
            F.col("sentence").alias("source_sentence"),
            F.lit(rules.PATTERN_METHOD).alias("extraction_method"),
        )
    )


# ------------------------------------------------------- fused extraction
# Field layout of one extracted triple inside the per-document arrays;
# both branches must emit the exact same struct for concat().
def _triple_struct(
    table_id: Column,
    subj: Column,
    subj_type: Column,
    predicate: Column,
    obj: Column,
    obj_type: Column,
    confidence: float,
    sentence: Column,
    method: str,
) -> Column:
    return F.struct(
        table_id.alias("table_id"),
        subj.alias("subj_name"),
        subj_type.alias("subj_type"),
        predicate.alias("predicate"),
        obj.alias("obj_name"),
        obj_type.alias("obj_type"),
        F.lit(confidence).alias("confidence"),
        sentence.alias("source_sentence"),
        F.lit(method).alias("extraction_method"),
    )


# --------------------------------------------------- reference caps
# The reference truncates each document's extraction result:
# MAX_ENTITIES_PER_EXTRACTION = 100, MAX_TRIPLETS_PER_DOCUMENT = 200
# (/root/reference/config.py:21-22). The engine keeps ALL rows by
# default (no silent data loss at scale); these operators reproduce the
# caps when requested, over a CANONICAL deterministic order (the
# reference's order is its in-memory extraction order, which has no
# stable analog in a distributed multiset), and the truncation is
# ACCOUNTED (SURVEY.md §4.1: "log via _metrics when truncating").
MAX_TRIPLES_PER_DOC = 200
MAX_ENTITIES_PER_DOC = 100

# total order within a document: rows equal on this key are fully
# identical (obj_type/subj_type/confidence are functions of these), so
# the capped MULTISET is deterministic on both engines
_CAP_ORDER = ["extraction_method", "table_id", "subj_name", "predicate",
              "obj_name", "source_sentence"]


def cap_triples_per_doc(
    triples_df: DataFrame, max_per_doc: int = MAX_TRIPLES_PER_DOC
) -> DataFrame:
    """First ``max_per_doc`` triples per document in canonical order —
    the MAX_TRIPLETS_PER_DOCUMENT reproduction. One window shuffle on
    doc_id; per-doc state is bounded by the cap itself."""
    w = Window.partitionBy("doc_id").orderBy(
        F.col("extraction_method").asc(),
        F.col("table_id").asc_nulls_first(),
        *[F.col(c).asc() for c in _CAP_ORDER[2:]],
    )
    return (
        triples_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_doc)
        .drop("_rn")
    )


def cap_accounting(
    triples_df: DataFrame, max_per_doc: int = MAX_TRIPLES_PER_DOC
) -> DataFrame:
    """One metrics row making the truncation explicit: how many docs
    exceeded the cap and how many triples the cap would drop."""
    counts = triples_df.groupBy("doc_id").agg(F.count("*").alias("n"))
    return counts.agg(
        F.count("*").cast("long").alias("docs_total"),
        F.sum(F.when(F.col("n") > max_per_doc, 1).otherwise(0))
        .cast("long")
        .alias("docs_truncated"),
        F.sum(F.greatest(F.col("n") - max_per_doc, F.lit(0)))
        .cast("long")
        .alias("triples_dropped"),
    )


def entities_per_doc_capped(
    triples_df: DataFrame, max_entities: int = MAX_ENTITIES_PER_DOC
) -> DataFrame:
    """First ``max_entities`` DISTINCT (name, entity_type) mentions per
    document in canonical (entity_type, name) order — the
    MAX_ENTITIES_PER_EXTRACTION reproduction. Returns
    (doc_id, name, entity_type, rk)."""
    m = (
        triples_df.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.col("subj_name").alias("name"),
                        F.col("subj_type").alias("entity_type"),
                    ),
                    F.struct(
                        F.col("obj_name").alias("name"),
                        F.col("obj_type").alias("entity_type"),
                    ),
                )
            ).alias("m"),
        )
        .select("doc_id", "m.name", "m.entity_type")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("entity_type", "name")
    return (
        m.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= max_entities)
    )


def _bind(expr: Column, f) -> Column:
    """Evaluate ``expr`` ONCE and pass the materialized value into
    ``f`` as a higher-order-function lambda variable. Catalyst does NOT
    eliminate common subexpressions across lambda bodies — without this
    binding, every helper that references the parsed cell list would
    re-run from_json per reference (measured ~25% slower extraction)."""
    return F.element_at(F.transform(F.array(expr), f), 1)


def _table_span_triples(doc_id: Column, span: Column, reference_strict: bool) -> Column:
    """Array of triples extracted from ONE table span — the whole
    tabulate.table_cells -> semantic_entries -> table_triples chain
    re-expressed as array expressions over the span's cell list (the
    grid lives entirely inside this one span's JSON, so every
    (doc_id, table_id[, row/col]) window collapses to an in-row array
    computation: tabulate.py's one shuffle becomes zero). Grids are
    5-50 cells (reference scale), so the O(cells^2) row/col lookups are
    constant-bounded per row."""
    raw = F.from_json(F.coalesce(span["text"], F.lit("")), T.ArrayType(CELL))
    # malformed JSON -> null array -> no cells (F11 per-item tolerance);
    # null elements mirror table_cells' explode_outer + isNotNull filter
    parsed = F.transform(
        F.filter(F.coalesce(raw, F.array().cast(T.ArrayType(CELL))), lambda c: c.isNotNull()),
        lambda c: F.struct(
            c["row"].alias("row"),
            c["col"].alias("col"),
            F.coalesce(c["text"], F.lit("")).alias("txt"),
        ),
    )
    table_id = F.sha2(
        F.concat_ws(":", doc_id, span["offset"].cast("string")), 256
    )
    return _bind(
        parsed, lambda cells: _cells_triples(table_id, cells, reference_strict)
    )


def _table_span_entries(doc_id: Column, span: Column) -> Column:
    """Array of semantic entries (incl. table_id) for ONE table span —
    the in-row twin of tabulate.table_cells -> semantic_entries for that
    span, built on the same parse and entry expressions as the fused
    extraction."""
    raw = F.from_json(F.coalesce(span["text"], F.lit("")), T.ArrayType(CELL))
    parsed = F.transform(
        F.filter(F.coalesce(raw, F.array().cast(T.ArrayType(CELL))), lambda c: c.isNotNull()),
        lambda c: F.struct(
            c["row"].alias("row"),
            c["col"].alias("col"),
            F.coalesce(c["text"], F.lit("")).alias("txt"),
        ),
    )
    table_id = F.sha2(
        F.concat_ws(":", doc_id, span["offset"].cast("string")), 256
    )
    return _bind(
        parsed,
        lambda cells: F.transform(
            _cells_triples(table_id, cells, False, as_entries=True),
            lambda e: F.struct(
                table_id.alias("table_id"),
                e["row_idx"].alias("row_idx"),
                e["row_header"].alias("row_header"),
                e["key"].alias("key"),
                e["value"].alias("value"),
            ),
        ),
    )


def semantic_entries_fused(docs: DataFrame) -> DataFrame:
    """Single-scan, shuffle-free twin of
    tabulate.semantic_entries(tabulate.table_cells(spans)) over the raw
    documents table — the same fusion as ``all_triples_fused`` stopped
    at the entries stage (the staged path shuffled once for its three
    window families and parsed the cell JSON under them). Equivalence
    is pinned by tests/test_triples_fused.py and the shared DuckDB
    oracle (q:relationship_entries).

    Shared fused-architecture invariant (same as ``all_triples_fused``
    since round 5): a table's grid lives entirely inside ONE span, so
    two table spans of a document sharing an offset (an input-contract
    violation — it collides their sha2 table_id; q:span_invariant
    checks the contract) would be evaluated per span here but merged
    by the staged windows."""
    return docs.select(
        F.col("doc_id"), F.explode(_fused_entries_expr()).alias("e")
    ).select(
        "doc_id",
        "e.table_id",
        "e.row_idx",
        "e.row_header",
        "e.key",
        "e.value",
    )


def _cells_triples(
    table_id: Column, cells: Column, reference_strict: bool, as_entries: bool = False
) -> Column:
    """Triples from a (once-materialized) normalized cell array.
    ``as_entries=True`` stops after the semantic-entry construction and
    returns the raw array<struct<row_idx, row_header, key, value>> —
    the in-row twin of tabulate.semantic_entries' per-table output,
    shared so the fused entries query and the fused extraction cannot
    drift apart."""
    ncols = F.array_max(F.transform(cells, lambda c: c["col"])) + F.lit(1)
    has_opts = F.exists(cells, lambda c: (c["row"] == 0) & (c["col"] >= 1))
    options = F.array_join(
        F.transform(
            F.array_sort(
                F.transform(
                    F.filter(cells, lambda c: (c["row"] == 0) & (c["col"] >= 1)),
                    lambda c: F.struct(c["col"].alias("col"), c["txt"].alias("text")),
                )
            ),
            lambda s: s["text"],
        ),
        ", ",
    )

    def header_of(col: Column) -> Column:
        return F.array_max(
            F.transform(
                F.filter(cells, lambda x: (x["row"] == 0) & (x["col"] == col)),
                lambda x: x["txt"],
            )
        )

    def row_header_of(row: Column) -> Column:
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.filter(cells, lambda x: (x["row"] == row) & (x["col"] == 0)),
                    lambda x: x["txt"],
                )
            ),
            F.lit(""),
        )

    def is_marker(x: Column) -> Column:
        return x["txt"].isin(rules.MARKERS)

    def n_marker_of(row: Column) -> Column:
        return F.size(
            F.filter(cells, lambda x: (x["row"] == row) & (x["col"] >= 1) & is_marker(x))
        )

    def n_other_of(row: Column) -> Column:
        return F.size(
            F.filter(
                cells,
                lambda x: (x["row"] == row)
                & (x["col"] >= 1)
                & ~is_marker(x)
                & (x["txt"] != ""),
            )
        )

    kv = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
    )

    def entry(k: Column, v: Column) -> Column:
        return F.struct(k.alias("key"), v.alias("value"))

    def entries_for(c: Column) -> Column:
        header = header_of(c["col"])
        marker = is_marker(c)
        option_row = (n_marker_of(c["row"]) == 1) & (n_other_of(c["row"]) == 0)
        return (
            F.when(
                ncols == 2,
                F.when(
                    c["col"] == 1, F.array(entry(F.lit("value"), c["txt"]))
                ).otherwise(F.array().cast(T.ArrayType(kv))),
            )
            .when(
                option_row,
                F.when(
                    marker,
                    F.when(
                        has_opts,
                        F.array(
                            entry(F.lit("value"), F.coalesce(header, F.lit(""))),
                            entry(
                                F.lit("notes"),
                                F.concat(F.lit(rules.OPTION_NOTES_PREFIX), options),
                            ),
                        ),
                    ).otherwise(
                        F.array(entry(F.lit("value"), F.coalesce(header, F.lit(""))))
                    ),
                ).otherwise(F.array().cast(T.ArrayType(kv))),
            )
            .otherwise(
                F.array(
                    entry(
                        F.when(
                            header.isNull() | (header == ""),
                            F.concat(F.lit("Column_"), c["col"]),
                        ).otherwise(header),
                        c["txt"],
                    )
                )
            )
        )

    value_cells = F.filter(cells, lambda c: (c["row"] >= 1) & (c["col"] >= 1))
    entries = F.flatten(
        F.transform(
            value_cells,
            lambda c: F.transform(
                entries_for(c),
                lambda e: F.struct(
                    c["row"].alias("row_idx"),
                    row_header_of(c["row"]).alias("row_header"),
                    e["key"].alias("key"),
                    e["value"].alias("value"),
                ),
            ),
        )
    )
    if as_entries:
        return entries

    def finalize(es: Column) -> Column:
        return F.transform(
            F.filter(es, lambda e: (e["value"] != "") & (e["key"] != "row_header")),
            lambda e: _triple_struct(
                table_id,
                e["row_header"],
                F.lit("concept"),
                F.lit("related_to"),
                e["value"],
                classify_value_col(e["value"]),
                rules.FALLBACK_CONFIDENCE,
                F.concat(
                    e["row_header"], F.lit(" has "), e["key"], F.lit(" of "), e["value"]
                ),
                rules.FALLBACK_METHOD,
            ),
        )

    if reference_strict:
        # data_rows[:3] cap (triplet_extractor.py:358) == keep entries
        # whose row_idx ranks among the table's first 3 distinct rows;
        # both the entry list and the distinct-row list are _bind-ed so
        # neither recomputes per filtered element
        return _bind(
            entries,
            lambda es: _bind(
                F.array_sort(F.array_distinct(F.transform(es, lambda e: e["row_idx"]))),
                lambda rows_sorted: finalize(
                    F.filter(
                        es, lambda e: F.array_position(rows_sorted, e["row_idx"]) <= 3
                    )
                ),
            ),
        )
    return finalize(entries)


def _merged_sentences_arr(spans_col: Column) -> Column:
    """Array of (offset, sentence) structs: the W5 cross-span merge as a
    per-document fold over the text spans — same terminator rule as
    segment.merged_text_sentences, but with NO doc_id shuffle: the
    session window collapses to F.aggregate, because the whole document
    is already one row. Spans are explicitly sorted by offset first
    (the input invariant says they are stored sorted, but the staged
    twin re-sorts via its window, so a violating document must not
    produce silently different triples here).

    NULL-text spans replicate the staged window exactly: the span
    contributes nothing to its run and the NEXT span starts a new run
    (staged: lag(text).isNull() starts a run; array_join drops the null
    element). The staged path also materializes an all-NULL run as an
    empty-sentence row; no pattern can match '' so the fold skips it —
    triple output is identical (the pinned equivalence target)."""
    # tie-break duplicate offsets by text (null first) — the staged
    # window's array_sort over (offset, text) structs does the same, so
    # even offset-violating documents merge identically on both paths
    texts = F.array_sort(
        F.filter(spans_col, lambda s: s["kind"] == "text"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .when(a["text"].isNull() & b["text"].isNotNull(), -1)
        .when(a["text"].isNotNull() & b["text"].isNull(), 1)
        .when(a["text"] < b["text"], -1)
        .when(a["text"] > b["text"], 1)
        .otherwise(0),
    )
    sent_t = "array<struct<offset int, sentence string>>"
    init = F.struct(
        F.array().cast(sent_t).alias("done"),
        F.lit(None).cast("string").alias("cur"),
        F.lit(None).cast("int").alias("cur_off"),
    )

    def flushed(acc: Column) -> Column:
        """done ++ the open run (if any), without appending new text."""
        return F.when(acc["cur"].isNull(), acc["done"]).otherwise(
            F.concat(
                acc["done"],
                F.array(
                    F.struct(
                        acc["cur_off"].alias("offset"), acc["cur"].alias("sentence")
                    )
                ),
            )
        )

    def step(acc: Column, s: Column) -> Column:
        txt = s["text"]
        new_cur = F.when(acc["cur"].isNull(), txt).otherwise(
            F.concat(acc["cur"], F.lit(" "), txt)
        )
        # cast: inline test data infers python ints as bigint; the
        # accumulator struct is pinned to the parquet schema's int32
        new_off = (
            F.when(acc["cur"].isNull(), s["offset"]).otherwise(acc["cur_off"]).cast("int")
        )
        terminated = txt.rlike(rules.TERMINATOR_RE) & ~txt.rlike(rules.ABBREV_RE)
        reset = [
            F.lit(None).cast("string").alias("cur"),
            F.lit(None).cast("int").alias("cur_off"),
        ]
        return (
            F.when(txt.isNull(), F.struct(flushed(acc).alias("done"), *reset))
            .when(
                terminated,
                F.struct(
                    F.concat(
                        acc["done"],
                        F.array(
                            F.struct(new_off.alias("offset"), new_cur.alias("sentence"))
                        ),
                    ).alias("done"),
                    *reset,
                ),
            )
            .otherwise(
                F.struct(
                    acc["done"].alias("done"), new_cur.alias("cur"), new_off.alias("cur_off")
                )
            )
        )

    return F.aggregate(texts, init, step, flushed)


def _sentence_triples(sent: Column) -> Column:
    """Array of pattern triples for one merged sentence struct."""
    cands = F.array(
        *[
            F.struct(
                F.regexp_extract(sent["sentence"], pat, 1).alias("subj_name"),
                F.lit(st).alias("subj_type"),
                F.lit(pred).alias("predicate"),
                F.regexp_extract(sent["sentence"], pat, 2).alias("obj_name"),
                F.lit(ot).alias("obj_type"),
            )
            for pat, pred, st, ot in rules.TEXT_PATTERNS
        ]
    )
    return F.transform(
        F.filter(cands, lambda m: (m["subj_name"] != "") & (m["obj_name"] != "")),
        lambda m: _triple_struct(
            F.lit(None).cast("string"),
            m["subj_name"],
            m["subj_type"],
            m["predicate"],
            m["obj_name"],
            m["obj_type"],
            rules.PATTERN_CONFIDENCE,
            sent["sentence"],
            rules.PATTERN_METHOD,
        ),
    )


# Cache of the UNRESOLVED fused-extraction Column expressions, keyed by
# the only parameter they depend on. This holds no data and no plan —
# just the immutable expression AST (the prepared-statement analog):
# building it costs ~1.2s of py4j round-trips per call (thousands of
# Column-API constructor calls), which the bench's construction+execution
# timing charged to every invocation. Name resolution against the input
# DataFrame still happens per query, and every invocation still scans
# the parquet corpus — nothing computed is reused.
_FUSED_EXPR_CACHE: dict[tuple, Column] = {}


def _fused_triples_expr(reference_strict: bool) -> Column:
    key = ("triples", reference_strict)
    col = _FUSED_EXPR_CACHE.get(key)
    if col is None:
        doc_id = F.col("doc_id")
        valid = F.filter(
            F.col("spans"), lambda s: s["offset"].isNotNull() & (s["offset"] >= 0)
        )
        tbl = F.flatten(
            F.transform(
                F.filter(valid, lambda s: s["kind"] == "table"),
                lambda s: _table_span_triples(doc_id, s, reference_strict),
            )
        )
        txt = F.flatten(F.transform(_merged_sentences_arr(valid), _sentence_triples))
        col = F.concat(tbl, txt)
        _FUSED_EXPR_CACHE[key] = col
    return col


def _fused_entries_expr() -> Column:
    key = ("entries",)
    col = _FUSED_EXPR_CACHE.get(key)
    if col is None:
        doc_id = F.col("doc_id")
        col = F.flatten(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == "table"),
                lambda s: _table_span_entries(doc_id, s),
            )
        )
        _FUSED_EXPR_CACHE[key] = col
    return col


def all_triples_fused(docs: DataFrame, reference_strict: bool = False) -> DataFrame:
    """Single-scan, shuffle-free triple extraction over the raw
    documents table (doc_id, spans): both extraction kinds — the
    table fallback rule and the sentence patterns — are computed per
    document with array expressions inside ONE narrow projection, so
    the physical plan is FileScan -> Project -> Generate(explode) with
    ZERO exchanges and ONE corpus read. Composing ``table_triples``
    and ``text_triples`` over exploded spans instead reads + explodes
    the corpus once per branch and shuffles for the tabulate windows
    and the sentence session-window; at 10^12 documents that is the
    entire corpus scanned twice plus two wide shuffles for work that is
    per-document local. The DuckDB oracle (q:triples_all) is the
    reference; tests/test_triples_fused.py also pins row-for-row
    equality with that composition.

    Reference parity: triplet_extractor.py:339-384 (fallback rule),
    SURVEY.md §7.2 step 1 (patterns), content_models.py:55-82 (W5).

    The validity contract (the filter inside _fused_triples_expr) is the
    same as quarantine.span_guard_reason() for the kinds this operator
    consumes: known kind and a present, non-negative offset — so its
    output equals the composition over the quarantine-good spans
    (tests/test_pipeline.py)."""
    return (
        docs.select(
            F.col("doc_id"),
            F.explode(_fused_triples_expr(reference_strict)).alias("t"),
        )
        .select("doc_id", "t.*")
    )
