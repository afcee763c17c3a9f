"""Correctness checks: every measured table is compared with an oracle
that shares no code path with the engine.  Each check returns a list of
mismatch descriptions; an empty list means the table is exact."""

from __future__ import annotations

import numpy as np

MAX_REPORTED = 5  # mismatching docs printed per check


def oracle_state(pdf):
    """The pandas LWW oracle of a generated log, indexed by doc_id."""
    from binlake_spark.changelog import oracle_final_state

    return oracle_final_state(pdf).set_index("doc_id")


def logical_bytes(pdf) -> int:
    """Logical size of change rows or table rows: doc_id bytes + 4 bytes
    per int32 token + source bytes.  The common base of ``write_amp``
    and ``space_amp``."""
    doc = pdf.index if "doc_id" not in pdf.columns else pdf["doc_id"]
    toks = pdf["tokens"].map(lambda t: 0 if t is None else len(t))
    src = pdf["source"].map(lambda s: 0 if s is None else len(s))
    ids = doc.map(lambda d: 0 if d is None else len(d))
    return int(np.asarray(ids).sum() + 4 * toks.sum() + src.sum())


def rate_event_bytes(tokens_per_doc: int) -> int:
    """Logical bytes of one ``rate_changelog_stream`` event: a nine-letter
    doc id, the tokens, and a source name of four letters on average
    (web, books, code, wiki in turn)."""
    return 9 + 4 * tokens_per_doc + 4


def table_vs_oracle(spark, table, oracle) -> list[str]:
    """Exact per-doc comparison of the table with the pandas oracle: token
    arrays, ``source``, ``n_tok`` and ``lang`` where the oracle has it."""
    cols = [c for c in ("tokens", "n_tok", "source", "lang") if c in oracle.columns]
    got = table.read(spark).select("doc_id", *cols).toPandas().set_index("doc_id")
    out: list[str] = []
    if got.index.has_duplicates:
        out.append(f"{int(got.index.duplicated().sum())} duplicate doc_ids")
    missing = oracle.index.difference(got.index)
    extra = got.index.difference(oracle.index)
    if len(missing):
        out.append(f"{len(missing)} docs missing, e.g. {list(missing[:MAX_REPORTED])}")
    if len(extra):
        out.append(f"{len(extra)} docs not in the oracle, e.g. {list(extra[:MAX_REPORTED])}")
    common = oracle.index.intersection(got.index)
    want, have = oracle.loc[common], got.loc[~got.index.duplicated()].loc[common]
    for c in cols:
        if c == "tokens":
            same = [
                np.array_equal(np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64))
                for a, b in zip(want[c], have[c])
            ]
        else:
            same = [
                (a is None or a != a) and (b is None or b != b) or a == b
                for a, b in zip(want[c], have[c])
            ]
        bad = [d for d, ok in zip(common, same) if not ok]
        if bad:
            out.append(f"{len(bad)} docs differ in {c}, e.g. {bad[:MAX_REPORTED]}")
    return out


def stream_vs_sql(spark, table, vocab, n_docs: int, tokens_per_doc: int, max_seq: int):
    """Check a ``stream_mor_ivm`` cycle.  The table must equal a plain
    Spark SQL last-writer-wins over seqs ``1..max_seq`` of the rate
    stream, rebuilt here from its defining formulas; the vocabulary
    rollup must equal a from-scratch recompute over the final table.
    Returns (the oracle table's logical bytes, mismatches)."""
    from binlake_spark.changelog.generator import VOCAB

    spark.sql(f"""
        SELECT id AS seq,
               concat('doc', lpad(cast(pmod(hash(cast(id AS string)), {n_docs})
                                  AS string), 6, '0')) AS doc_id,
               CASE WHEN pmod(id, 15) < 10 THEN 'I'
                    WHEN pmod(id, 15) < 14 THEN 'U' ELSE 'D' END AS op,
               transform(sequence(0, {tokens_per_doc - 1}),
                         i -> cast(pmod(hash(id), {VOCAB - tokens_per_doc}) + i AS int))
                   AS tokens,
               element_at(array('web', 'books', 'code', 'wiki'),
                          cast(pmod(id, 4) + 1 AS int)) AS source
        FROM range(1, {max_seq + 1})
    """).createOrReplaceTempView("perfbench_events")
    want = spark.sql(f"""
        SELECT doc_id, w.tokens, {tokens_per_doc} AS n_tok, w.source
        FROM (SELECT doc_id, max_by(struct(op, tokens, source), seq) AS w
              FROM perfbench_events GROUP BY doc_id)
        WHERE w.op <> 'D'
    """)
    got = table.read(spark).select("doc_id", "tokens", "n_tok", "source")
    out: list[str] = []
    n_miss = want.exceptAll(got).count()
    n_extra = got.exceptAll(want).count()
    if n_miss or n_extra:
        out.append(
            f"table vs SQL LWW over seqs 1..{max_seq}: {n_miss} rows missing "
            f"or different, {n_extra} rows not in the oracle"
        )
    got.createOrReplaceTempView("perfbench_final")
    recount = spark.sql("""
        SELECT tok, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        FROM perfbench_final LATERAL VIEW explode(tokens) t AS tok GROUP BY tok
    """)
    rollup = vocab.vocab(spark)
    v_miss = recount.exceptAll(rollup).count()
    v_extra = rollup.exceptAll(recount).count()
    if v_miss or v_extra:
        out.append(
            f"vocab rollup vs recompute: {v_miss} tokens missing or different, "
            f"{v_extra} tokens not in the recompute"
        )
    nbytes = want.selectExpr(
        "sum(length(doc_id) + 4 * size(tokens) + length(source))"
    ).first()[0]
    return int(nbytes or 0), out
