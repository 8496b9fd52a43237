"""Sinks (SURVEY.md §2.1 S6, S7, S8; §3.3).

- S6 star-schema export: the reference's final queryable product is a
  5-table H2 relational database written row-by-row with batched
  commits (src/GraphDBToH2.groovy:40-165, commit every 1000 at
  :62-64, durability off at :44). Spark-first: atomic columnar
  Parquet writes per table (``write_star_schema``) — partitioned,
  compressed, no per-row transactions; the JDBC variant
  (``write_star_jdbc``) keeps the batching idea via the writer's
  ``batchsize`` option. The edge-dedupe MERGE INTO
  (src/GraphDBToH2.groovy:104-105) becomes ``dropDuplicates`` before
  the write.
- S7 GraphML export: filtered social network -> Gephi GraphML
  (src/SNGephiGraphML.groovy:40-102). The filtered graph is small by
  construction (num_docs >= 2 thresholds), so the XML is streamed on
  the driver via toLocalIterator — the *filters* run distributed.
- S8 node-id TSV (src/SNNodeId.groovy:38-57): sorted
  (node_id <tab> entity_text) dump.
"""

from __future__ import annotations

import os
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import social

STAR_TABLES = ("documents", "entities", "mentions", "document_entity", "geolocations")


def write_star_schema(
    tables: dict[str, DataFrame],
    path: str,
    mode: str = "overwrite",
    partition_cols: dict[str, list[str]] | None = None,
) -> None:
    """S6 — write the relational star as Parquet, one directory per
    table. ``document_entity`` is deduplicated on its key first
    (replaces H2 MERGE INTO, src/GraphDBToH2.groovy:104-105).

    ``partition_cols`` maps table -> partitioning columns for the
    scale path (e.g. mentions by type); default unpartitioned — at
    sf-test sizes extra directories cost more than they save.
    """
    partition_cols = partition_cols or {}
    for name, df in tables.items():
        if name == "document_entity":
            df = df.dropDuplicates(["doc_id", "entity_id"])
        writer = df.write.mode(mode)
        if name in partition_cols:
            writer = writer.partitionBy(*partition_cols[name])
        writer.parquet(os.path.join(path, name))


def write_star_bucketed(
    tables: dict[str, DataFrame],
    path: str,
    n_buckets: int = 32,
    database: str | None = None,
) -> None:
    """S6 scale variant: persist the star as *bucketed* tables so every
    doc_id-keyed join (mentions ⋈ document_entity ⋈ documents — the
    hot path of every coref/count query) is co-located and runs with
    NO shuffle exchange on either side.

    Bucket keys: the FK each table is joined on. ``n_buckets`` should
    be sized so a bucket of the largest table holds 128-512 MB at the
    target corpus (at 100 TB of mentions, ~100k buckets). Registered
    in the session catalog as external tables at ``path``.
    """
    bucket_keys = {
        "documents": "doc_id",
        "mentions": "doc_id",
        "document_entity": "doc_id",
        "entities": "entity_id",
        "geolocations": "entity_id",
    }
    for name, df in tables.items():
        if name == "document_entity":
            df = df.dropDuplicates(["doc_id", "entity_id"])
        key = bucket_keys.get(name)
        table = f"{database}.{name}" if database else name
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(path, name))
        )
        if key is not None and key in df.columns:
            writer = writer.bucketBy(n_buckets, key).sortBy(key)
        writer.saveAsTable(table)


def read_star_schema(spark, path: str) -> dict[str, DataFrame]:
    """Load every table directory present under ``path``."""
    out = {}
    for name in STAR_TABLES:
        p = os.path.join(path, name)
        if os.path.isdir(p):
            out[name] = spark.read.parquet(p)
    return out


#: Spark simpleString -> portable DDL type for pre-created JDBC tables
_JDBC_DDL_TYPES = {
    "long": "BIGINT", "bigint": "BIGINT", "int": "INTEGER",
    "string": "VARCHAR", "double": "DOUBLE", "float": "REAL",
    "boolean": "BOOLEAN", "date": "DATE", "timestamp": "TIMESTAMP",
    "binary": "BLOB",
}


def _jdbc_driver_connection(spark, url: str, driver_class: str):
    """Open a JDBC connection through the Spark application
    classloader. ``spark.jars`` jars are NOT on the py4j system
    classloader, so ``DriverManager``/``Class.forName`` cannot see
    them from the driver; loading through the context classloader and
    calling ``Driver.connect`` directly is the supported route."""
    jvm = spark._jvm
    loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
    cls = loader.loadClass(driver_class)
    return cls.newInstance().connect(url, jvm.java.util.Properties())


def _ensure_jdbc_tables(
    spark, url: str, tables: dict[str, DataFrame], props: dict, overwrite: bool
) -> bool:
    """Pre-create target tables with explicit DDL (drop first on
    overwrite). Needed because Spark's table-existence probe
    (``SELECT 1 FROM t WHERE 1=0``) leaks a prepare-time SQLException
    on embedded engines like DuckDB instead of reporting 'absent'.
    Returns False (caller falls back to Spark's own DDL) when no
    driver class is configured or the connection fails."""
    driver_class = props.get("driver")
    if not driver_class:
        return False
    try:
        conn = _jdbc_driver_connection(spark, url, driver_class)
    except Exception:
        return False
    try:
        st = conn.createStatement()
        for name, df in tables.items():
            if overwrite:
                st.execute(f'DROP TABLE IF EXISTS "{name}"')
            cols = ", ".join(
                f'"{f.name}" {_JDBC_DDL_TYPES.get(f.dataType.simpleString(), "VARCHAR")}'
                for f in df.schema.fields
            )
            st.execute(f'CREATE TABLE IF NOT EXISTS "{name}" ({cols})')
        st.close()
    finally:
        conn.close()
    return True


def write_star_jdbc(
    tables: dict[str, DataFrame],
    url: str,
    mode: str = "overwrite",
    batchsize: int = 1000,
    properties: dict | None = None,
) -> None:
    """S6 JDBC variant — batchsize mirrors the reference's 1000-row
    commit cadence (src/GraphDBToH2.groovy:62-64); the driver jar
    rides in via ``spark.jars`` / SPARK_GRAFT_EXTRA_JARS. Tables are
    pre-created with explicit DDL when a ``driver`` property is given
    (see ``_ensure_jdbc_tables``); writes then append into them.
    Embedded single-writer engines (DuckDB/H2 file mode) serialize
    concurrent transactions — coalesce small exports to one partition;
    a real warehouse target takes partition-parallel writes as-is."""
    props = dict(properties or {})
    props.setdefault("batchsize", str(batchsize))
    tables = {
        name: (
            df.dropDuplicates(["doc_id", "entity_id"])
            if name == "document_entity" else df
        )
        for name, df in tables.items()
    }
    spark = next(iter(tables.values())).sparkSession
    # Pre-create + append only for modes where appending into an
    # existing table is what the caller asked for; 'error'/'ignore'
    # fall through to Spark's own mode handling so a pre-existing
    # table errors/skips instead of silently accumulating duplicates.
    pre_created = mode in ("overwrite", "append") and _ensure_jdbc_tables(
        spark, url, tables, props, overwrite=(mode == "overwrite")
    )
    write_mode = "append" if pre_created else mode
    for name, df in tables.items():
        df.write.mode(write_mode).jdbc(url, table=name, properties=props)


def social_network_for_export(
    entities: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """F8/F9/F10/J8 — the distributed part of the GraphML export: the
    across-doc persons as nodes, filtered with the edges by
    ``social.filter_social_network`` (src/SNGephiGraphML.groovy:52-84)."""
    persons = entities.filter(F.col("created_by") == "across_doc_person_coref")
    kept = social.filter_social_network(edges, persons)
    nodes = persons.filter(
        F.col("num_docs") >= social.NODE_MIN_NUM_DOCS
    ).select("entity_id", "text", "num_docs")
    return nodes, kept


def write_graphml(nodes: DataFrame, edges: DataFrame, out_path: str) -> dict:
    """S7 — stream the (already filtered, small) graph to a Gephi
    GraphML file on the driver. Returns {nodes: n, edges: m} counts
    (the reference prints the same totals,
    src/SNGephiGraphML.groovy:97-99)."""
    n = m = 0
    with open(out_path, "w", encoding="utf-8") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        fh.write(
            '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">\n'
            '  <key id="label" for="node" attr.name="label" attr.type="string"/>\n'
            '  <key id="num_docs" for="node" attr.name="num_docs" attr.type="long"/>\n'
            '  <key id="weight" for="edge" attr.name="num_docs" attr.type="long"/>\n'
            '  <graph id="social_network" edgedefault="undirected">\n'
        )
        ordered_nodes = nodes.orderBy("text", "entity_id")
        for row in ordered_nodes.toLocalIterator():
            fh.write(
                f'    <node id="n{row["entity_id"]}">'
                f'<data key="label">{escape(str(row["text"]))}</data>'
                f'<data key="num_docs">{row["num_docs"]}</data></node>\n'
            )
            n += 1
        ordered_edges = edges.orderBy("src_entity_id", "dst_entity_id")
        for row in ordered_edges.toLocalIterator():
            fh.write(
                f'    <edge source="n{row["src_entity_id"]}" '
                f'target="n{row["dst_entity_id"]}">'
                f'<data key="weight">{row["num_docs"]}</data></edge>\n'
            )
            m += 1
        fh.write("  </graph>\n</graphml>\n")
    return {"nodes": n, "edges": m}


def write_node_id_tsv(
    entities: DataFrame,
    out_dir: str,
    created_by: str = "across_doc_person_coref",
) -> None:
    """S8 — (entity_id \t text) sorted by name
    (src/SNNodeId.groovy:38-57). Distributed CSV write; pass a small
    filtered frame for a page-sized dump or leave large — the sort is
    a range partition either way."""
    (
        entities.filter(F.col("created_by") == created_by)
        .select(F.col("entity_id").cast("string"), "text")
        .orderBy("text")
        .write.mode("overwrite")
        .option("sep", "\t")
        .csv(out_dir)
    )


def write_mentions_csv(mentions: DataFrame, out_dir: str) -> None:
    """S4 sink — mention rows in the reference's .ner.csv column order
    (src/EntityExtractor.groovy:30)."""
    (
        mentions.select("type", "text_start", "text_stop", "idx", "global_id", "text")
        .write.mode("overwrite")
        .csv(out_dir)
    )


def write_token_tsv(token_tags: DataFrame, out_dir: str) -> None:
    """S10 sink — (token \t tag) in document token order
    (src/XMLToTSVConverter.groovy:148-159)."""
    (
        token_tags.orderBy("doc_id", "token_seq")
        .select("token", "tag")
        .write.mode("overwrite")
        .option("sep", "\t")
        .csv(out_dir)
    )


def write_training_shards(
    manifest: DataFrame,
    docs: DataFrame,
    out_dir: str,
    order_col: str = "position",
) -> DataFrame:
    """Materialize a training corpus as shard-partitioned parquet from
    a ``training_manifest`` (suite/curation.py: doc_id, split,
    position, shard_id) joined back to the documents — the layout a
    WebDataset/torchdata-style loader consumes: one directory per
    (split, shard), rows ordered by the seeded shuffle position
    WITHIN each shard file.

    Returns the per-shard summary (split, shard_id, n_docs, n_chars)
    — the manifest header a loader uses for length/striding — which
    the caller can write alongside.

    Plan at 100 TB: one doc_id equi-join (manifest is a projection of
    the corpus — co-partitioned after the join shuffle),
    ``repartition(split, shard_id)`` so each output directory is
    written by the tasks owning it, ``sortWithinPartitions`` for the
    in-file order (no global sort — position is already globally
    consistent from the manifest). Shard count bounds output files.
    """
    # The manifest owns split/position/shard_id/n_chars; if the
    # caller's docs relation carries any of those names too (e.g.
    # documents.parquet has its own n_chars), the join would yield
    # duplicate columns and the parquet write would fail — so keep
    # only doc_id + payload columns from docs (r8 ADVICE).
    manifest_owned = {c for c in manifest.columns if c != "doc_id"}
    payload = [c for c in docs.columns if c == "doc_id" or c not in manifest_owned]
    joined = manifest.join(docs.select(*payload), "doc_id")
    (
        joined.repartition("split", "shard_id")
        .sortWithinPartitions(order_col)
        .write.partitionBy("split", "shard_id")
        .mode("overwrite")
        .parquet(out_dir)
    )
    return (
        manifest.groupBy("split", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("split", "shard_id")
    )
