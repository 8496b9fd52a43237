"""The full ingestion pipeline as one plan (SURVEY.md §3.1).

Reference: ``Ingester.ingest`` (src/Ingester.groovy:101-194) runs 10
sequential steps — extract text, NER, populate graph, people coref +
social network, org coref, loc coref, geocode, precompute counts,
index, export to H2 — each timed by ``runStep``
(src/Ingester.groovy:114-121) with file-tree intermediates in a work
dir (src/Ingester.groovy:69-70).

Spark design: each stage is a lazy DataFrame plan; stage boundaries
that the reference persisted to disk become Parquet checkpoints —
that keeps per-stage lineage short, makes every stage restartable,
and mirrors exactly what a 1000-executor run wants (each checkpoint
is a shuffle-free scan for the next stage, sized by
``spark.sql.files.maxPartitionBytes``). The five star tables are
checkpointed straight into the star directory, so the H2 export
(src/GraphDBToH2.groovy:40-165) writes nothing more; the other
checkpoints stay in ``work_dir``. Stage timings are returned like the
reference's runStep report. Lucene indexing (S9) is reduced
to the searchable ``documents`` table itself (SURVEY.md §7 note);
full-text predicates run as ``rlike``/``contains`` scans.

The reference's three coref steps (PROCESS_PEOPLE, _ORGANIZATIONS,
_LOCATIONS) run the same algorithm once per type. Here they are one
coref pass keyed by ``type``. It checkpoints the within-doc clustering
(``work_dir/within_doc``, projected to the star ``mentions``) and its
entities (``work_dir/within_doc_entities``, read by ``entities``, the
across-doc entities and the membership behind ``sn_edges``). One
across-doc clustering feeds the last two. It is timed under
``process_person``;
``process_organization`` and ``process_location`` keep their timing
keys at 0.0.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..io import sinks, sources
from ..operators import coref, counts, curation, geocode, mentions, social
from . import checkpoint

COREF_TYPES = ("PERSON", "ORGANIZATION", "LOCATION")


class IngestResult(dict):
    """Tables + per-stage wall-clock seconds (runStep parity).

    ``timings`` keeps one key per reference step. The one coref pass
    over all types is timed as ``process_person``; its organization and
    location work runs in that step, so ``process_organization`` and
    ``process_location`` read 0.0. The star tables are written by the
    steps that checkpoint them, so ``export_star`` reads 0.0 too."""

    def __init__(self):
        super().__init__()
        self.timings: dict[str, float] = {}


def ingest(
    spark: SparkSession,
    input_dir: str | None,
    work_dir: str,
    out_dir: str | None = None,
    documents: DataFrame | None = None,
    extractor: Callable[[DataFrame], DataFrame] | None = None,
    gazetteer: DataFrame | None = None,
    graphml_path: str | None = None,
    curate: bool = False,
    bench_grams: DataFrame | None = None,
    input_ext: str = "txt",
) -> IngestResult:
    """Run the 10-step pipeline.

    Inputs: either ``input_dir`` (a recursive tree of source files,
    S1+S2; ``input_ext`` selects one extension, or ``"auto"`` scans
    every file and routes each to its extractor by extension —
    txt/html/pdf/docx/odt/rtf/doc/xls/ppt/xlsx/pptx, the Tika-class
    front door)
    or a prebuilt ``documents`` DataFrame (doc_id, name, path, text).
    ``extractor``: documents -> mentions DataFrame; defaults to the
    deterministic test double (the CRF seam, src/EntityExtractor.groovy:
    12-14). The star tables are checkpointed to ``out_dir`` (default
    ``work_dir/star``), the other stages to ``work_dir``; optionally
    writes a GraphML export.

    ``curate=True`` appends the LLM training-data funnel as a pipeline
    stage (operators/curation.py — the same oracle-gated transforms as
    suite/curation.py): decontaminate against ``bench_grams`` (a
    1-column (gram) DataFrame of held-out n-grams; stage skipped when
    None) -> PII-redact -> context-window chunk -> pack into token
    budgets per language stratum. Adds checkpointed ``curated_docs``,
    ``chunks``, ``packed_sequences`` tables.
    """
    res = IngestResult()
    star = out_dir or os.path.join(work_dir, "star")

    def step(name: str, fn):
        t0 = time.monotonic()
        out = fn()
        res.timings[name] = round(time.monotonic() - t0, 3)
        return out

    # 1-2: EXTRACT_TEXT + (3) persist documents — the graph-populate
    # stage (S5) is a no-op in the relational design: the parquet
    # tables ARE the graph.
    def load_docs():
        if documents is not None:
            d = documents
        elif input_ext == "auto":
            from ..session import ship_package

            ship_package(spark)  # pandas-UDF extractors run on workers
            d = sources.extract_text_auto(
                sources.scan_directory(spark, input_dir, "*")
            ).filter(F.col("text").isNotNull())
        else:
            d = sources.extract_text(
                sources.scan_directory(spark, input_dir, input_ext)
            )
        return checkpoint(d, os.path.join(star, "documents"))

    docs = step("extract_text", load_docs)

    # 2: FIND_NAMED_ENTITIES
    ext = extractor or mentions.derive_mentions
    ment = step(
        "find_named_entities",
        lambda: checkpoint(ext(docs), os.path.join(work_dir, "mentions")),
    )

    # 4-5: PROCESS_{PEOPLE,ORGANIZATIONS,LOCATIONS} — one coref pass
    # over all three types: every window and aggregation is keyed by
    # type, so the reference's three runs of the same algorithm become
    # one within-doc clustering and its entities, each checkpointed
    # once, and one across-doc clustering that the across-doc entities
    # aggregate and the membership projects (one sorted-neighborhood
    # build). Firstname-prefix absorption applies to PERSON rows only
    # (combineFirstnameFullname runs in WithinDocPerCoref).
    def run_coref():
        clusters = checkpoint(
            coref.within_doc_clusters(ment, COREF_TYPES, prefix_merge=True),
            os.path.join(work_dir, "within_doc"),
        )
        wd = checkpoint(
            coref.cluster_entities(clusters, COREF_TYPES),
            os.path.join(work_dir, "within_doc_entities"),
        )
        across = coref.across_doc_entities(ment, COREF_TYPES, wd=wd)
        member = coref.across_doc_membership(ment, COREF_TYPES, wd=wd)
        return clusters, wd, across, member

    clusters, wd, across, membership = step("process_person", run_coref)
    # the organization and location work runs in the step above; the
    # keys stay so the runStep report keeps one entry per reference step
    res.timings["process_organization"] = 0.0
    res.timings["process_location"] = 0.0

    entity_cols = ["entity_id", "type", "text", "created_by", "num_docs", "num_mentions"]
    entities = step(
        "entities_checkpoint",
        lambda: checkpoint(
            wd.select(*entity_cols).unionByName(across.select(*entity_cols)),
            os.path.join(star, "entities"),
        ),
    )
    assigned = step(
        "mentions_assigned",
        lambda: checkpoint(
            clusters.select(*coref.ASSIGNED_COLS), os.path.join(star, "mentions")
        ),
    )

    # 4b: social network from across-doc person membership
    def build_sn():
        doc_ent = (
            membership.filter(F.col("type") == "PERSON")
            .select("doc_id", "across_entity_id")
            .withColumnRenamed("across_entity_id", "entity_id")
            .dropDuplicates(["doc_id", "entity_id"])
        )
        return checkpoint(
            social.social_network(doc_ent), os.path.join(work_dir, "sn_edges")
        )

    sn_edges = step("social_network", build_sn)

    # 6: GEOCODE location entities from the across-doc pass
    def run_geocode():
        gaz = gazetteer if gazetteer is not None else geo.gazetteer(spark)
        locs = entities.filter(
            entities["created_by"] == "across_doc_location_coref"
        ).select("entity_id", "text")
        return checkpoint(
            geocode.resolve_locations(locs, gaz), os.path.join(star, "geolocations")
        )

    geolocations = step("geocode", run_geocode)

    # 7: PRECOMPUTE_COUNTS — one row per (doc_id, entity_id) group,
    # so the key is unique without the H2 MERGE INTO's dedup
    document_entity = step(
        "precompute_counts",
        lambda: checkpoint(
            counts.document_entity_counts(assigned),
            os.path.join(star, "document_entity"),
        ),
    )

    # 8: INDEX_DOCS — reduced to the persisted documents table (S9 note)

    # 9: CONVERT_TO_H2 — the steps above checkpointed into ``star``
    res.timings["export_star"] = 0.0
    res.update(
        documents=docs, entities=entities, mentions=assigned,
        document_entity=document_entity, geolocations=geolocations,
        sn_edges=sn_edges,
    )
    if graphml_path:
        def export_graphml():
            nodes, kept = sinks.social_network_for_export(entities, sn_edges)
            return sinks.write_graphml(nodes, kept, graphml_path)

        res["graphml_counts"] = step("export_graphml", export_graphml)

    # 10 (optional): LLM training-data curation funnel over the
    # extracted corpus — runs after coref so entity tables come from
    # the UNREDACTED text (matching the reference's graph), while the
    # training-mix tables are decontaminated + redacted.
    if curate:
        from ..functions import text as tx

        def run_curate():
            clean = docs
            if bench_grams is not None:
                tainted = curation.decontaminate_scores(docs, bench_grams)
                clean = docs.join(tainted, "doc_id", "left_anti")
            red = curation.redact_pii(clean)
            curated = checkpoint(
                red.select(
                    "doc_id", "name", "path",
                    F.col("text_redacted").alias("text"),
                    "n_emails", "n_phones",
                ),
                os.path.join(work_dir, "curated_docs"),
            )
            chunks = checkpoint(
                curation.chunk_documents(curated), os.path.join(work_dir, "chunks")
            )
            strata = curated.select(
                "doc_id", tx.lang_id(F.col("text")).alias("lang")
            )
            packed = checkpoint(
                curation.pack_chunks(chunks, strata),
                os.path.join(work_dir, "packed_sequences"),
            )
            return curated, chunks, packed

        curated, chunks, packed = step("curate_corpus", run_curate)
        res.update(curated_docs=curated, chunks=chunks, packed_sequences=packed)
    return res
