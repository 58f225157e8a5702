"""Correctness checks, computed apart from the program.

Every expected value here comes from the generator's own texts and from
rules re-implemented in Python (token and sentence patterns, the POS tag
rule, chunk islands, the VERB_SRL argument rule), or, for the catalog,
from the repository's DuckDB oracle SQL run by DuckDB. The program's
outputs are read back from disk with DuckDB. Each check returns a list of
problems; an empty list means the output is correct.

Loading and verifying are separate steps so that selftest.py can show each
check refusing a corrupted output.
"""
import glob
import hashlib
import math
import os
import re

import duckdb

# ---------------------------------------------------------------------------
# Independent re-implementation of the annotation rules
# ---------------------------------------------------------------------------

TOKEN_RE = re.compile(r"[A-Za-z0-9_']+|[^A-Za-z0-9_'\s]")
SENTENCE_RE = re.compile(r"[^.!?]+[.!?]*")
WS = " \t\n\x0b\f\r"
CARDINAL_RE = re.compile(r"[0-9]+([.,][0-9]+)?")
DET = {"the", "a", "an", "this", "that", "these", "those"}
PREP = {"of", "in", "on", "at", "by", "for", "with", "to", "from", "as"}
CONJ = {"and", "or", "but", "nor", "so", "yet"}
PRON = {"i", "you", "he", "she", "it", "we", "they", "him", "her", "them",
        "his", "its", "their", "my", "your", "our"}
MODAL = {"will", "would", "can", "could", "shall", "should", "may", "might", "must"}
BE = {"is", "are", "was", "were", "be", "been", "am", "being"}
NP_TAGS = {"DT", "CD", "PRP", "NN", "NNS", "NNP"}
VP_TAGS = {"MD", "VB", "VBD", "VBG", "RB"}
# views of a record annotated to VERB_SRL, by view map
LABEL_VIEWS = ("tokens", "sentences", "pos", "chunk")
PARSE_VIEWS = ("charniak", "srl")


def doc_id(text):
    return hashlib.sha1(f"FLAG:false:{text}".encode("utf-8")).hexdigest()


def tag(tok):
    lt = tok.lower()
    if not any(c.isalnum() for c in tok):
        return "SYM"
    if CARDINAL_RE.fullmatch(lt):
        return "CD"
    for words, t in ((DET, "DT"), (PREP, "IN"), (CONJ, "CC"), (PRON, "PRP"),
                     (MODAL, "MD"), (BE, "VB")):
        if lt in words:
            return t
    if lt.endswith("ly") and len(lt) > 3:
        return "RB"
    if lt.endswith("ing") and len(lt) > 4:
        return "VBG"
    if lt.endswith("ed") and len(lt) > 3:
        return "VBD"
    if tok[0].isupper():
        return "NNP"
    if lt.endswith("s") and len(lt) > 3:
        return "NNS"
    return "NN"


def expected_counts(text):
    """(tokens, sentences, chunks, srl predicates, srl arguments)."""
    toks = TOKEN_RE.findall(text)
    sents = [s for s in SENTENCE_RE.findall(text) if s.strip(WS)]
    kinds = ["NP" if t in NP_TAGS else "VP" if t in VP_TAGS else "O"
             for t in map(tag, toks)]
    islands = []  # maximal runs of one chunk kind, O runs dropped
    for i, k in enumerate(kinds):
        if i > 0 and kinds[i - 1] == k:
            continue
        if k != "O":
            islands.append(k)
    n_args = 0
    for i, k in enumerate(islands):
        if k == "VP":
            n_args += ("NP" in islands[:i]) + ("NP" in islands[i + 1:])
    return (len(toks), len(sents), len(islands), islands.count("VP"), n_args)


# ---------------------------------------------------------------------------
# Annotation outputs
# ---------------------------------------------------------------------------

def _records(con, path):
    """Read-back of a record directory: one tuple per record."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return []
    lv = {v: f"labelViews['{v}'][1]" for v in LABEL_VIEWS}
    pv = {v: f"parseViews['{v}'][1]" for v in PARSE_VIEWS}
    cols = ", ".join(
        [f"len({lv['tokens']}.labels)", f"len({lv['sentences']}.labels)",
         f"len({lv['pos']}.labels)", f"len({lv['chunk']}.labels)",
         f"len({pv['srl']}.trees)",
         f"coalesce(list_sum(list_transform({pv['srl']}.trees, t -> len(t.nodes) - 1)), 0)"]
        + [f"{lv[v]}.source" for v in LABEL_VIEWS]
        + [f"{pv[v]}.source" for v in PARSE_VIEWS])
    return con.execute(
        f"SELECT identifier, {cols} FROM read_parquet(?, union_by_name=true)",
        [files]).fetchall()


def load_annotate(work, pos_source):
    """Everything the annotate checks read from the work directory;
    `pos_source` is the current POS operator's source."""
    con = duckdb.connect()
    out = {
        "out": _records(con, os.path.join(work, "out")),
        "store": _records(con, os.path.join(work, "store")),
        "archive": _records(con, os.path.join(work, "archive")),
    }
    archive_files = glob.glob(os.path.join(work, "archive", "*.parquet"))
    out_files = glob.glob(os.path.join(work, "out", "**", "*.parquet"), recursive=True)
    # archived views of records whose POS view was fresh must come out as
    # they went in: compare the four label views value for value
    out["changed_fresh"] = con.execute(
        """SELECT count(*) FROM read_parquet(?) a JOIN read_parquet(?, union_by_name=true) o
           USING (identifier)
           WHERE a.labelViews['pos'][1].source = ?
             AND (a.labelViews['tokens'] IS DISTINCT FROM o.labelViews['tokens']
               OR a.labelViews['sentences'] IS DISTINCT FROM o.labelViews['sentences']
               OR a.labelViews['pos'] IS DISTINCT FROM o.labelViews['pos']
               OR a.labelViews['chunk'] IS DISTINCT FROM o.labelViews['chunk'])""",
        [archive_files, out_files, pos_source]).fetchone()[0] if archive_files else 0
    return out


def verify_annotate(loaded, expected, sources):
    """`sources`: view name -> the registry's current source string.
    `expected` holds the generated `texts`, and for annotate_deepen also
    the `orig` corpus the archive was seeded with and the `new` texts."""
    problems = []
    texts = {doc_id(t): t for t in expected["texts"] if t}
    out = {r[0]: r for r in loaded["out"]}
    store_ids = {r[0] for r in loaded["store"]}

    if len(loaded["out"]) != len(out):
        problems.append("duplicate identifiers in the output")
    if len(out) != len(texts):
        problems.append(f"{len(out)} records out, generator has {len(texts)} "
                        "distinct non-empty texts")
    if store_ids != set(out):
        problems.append(f"store holds {len(store_ids)} ids, output {len(out)}; sets differ")

    names = LABEL_VIEWS + PARSE_VIEWS
    bad_id = bad_counts = bad_src = 0
    for rid, r in out.items():
        text = texts.get(rid)
        if text is None:
            bad_id += 1
            continue
        n_tok, n_sent, n_chunk, n_pred, n_args = expected_counts(text)
        got = r[1:7]
        if got != (n_tok, n_sent, n_tok, n_chunk, n_pred, n_args):
            bad_counts += 1
        if any(s != sources[v] for v, s in zip(names, r[7:])):
            bad_src += 1
    if bad_id:
        problems.append(f"{bad_id} identifiers are not sha1('FLAG:false:' + text) "
                        "of a generated text")
    if bad_counts:
        problems.append(f"{bad_counts} records with token/sentence/pos/chunk/srl "
                        "counts that differ from the independent rules")
    if bad_src:
        problems.append(f"{bad_src} records carry a view whose source is not the "
                        "current operator's")
    not_deep = [r[0] for r in loaded["store"] if r[12] != sources["srl"]]
    if not_deep:
        problems.append(f"{len(not_deep)} stored records do not reach srl depth")
    if "orig" in expected:
        problems += _verify_deepened(loaded, expected, sources, out)
    return problems


def _verify_deepened(loaded, expected, sources, out):
    problems = []
    archive = {r[0]: r for r in loaded["archive"]}
    new_ids = {doc_id(t) for t in expected["new"] if t}
    cur_pos = sources["pos"]
    if set(archive) != {doc_id(t) for t in expected["orig"] if t}:
        problems.append("archive ids differ from the original corpus")
    if set(out) != set(archive) | new_ids:
        problems.append("output ids differ from archive ids + new ids")

    stale = [rid for rid, a in archive.items() if a[9] != cur_pos]
    if not stale:
        problems.append("set-up left no stale POS view in the archive")
    still_stale = sum(1 for rid in stale if rid in out and out[rid][9] != cur_pos)
    if still_stale:
        problems.append(f"{still_stale} stale POS views were not refreshed")
    if loaded["changed_fresh"]:
        problems.append(f"{loaded['changed_fresh']} fresh archived records came "
                        "out with changed views")
    return problems


# ---------------------------------------------------------------------------
# Catalog outputs against the DuckDB oracles
# ---------------------------------------------------------------------------

def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _sorted_rows(tbl):
    cols = sorted(tbl.column_names)
    rows = zip(*[tbl.column(c).to_pylist() for c in cols])
    return cols, sorted((tuple(_norm(v) for v in r) for r in rows),
                        key=lambda r: tuple((x is None, str(type(x)), x) for x in r))


def load_catalog(work, oracle_sql, data_dir):
    """Spark's rows and the oracle's rows per query, sorted the way the
    repository's check.py sorts them (columns by name, then rows)."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(work, "results", q, "*.parquet"))
        spark = _sorted_rows(con.execute("SELECT * FROM read_parquet(?)", [files])
                             .fetch_arrow_table()) if files else None
        out[q] = (spark, _sorted_rows(con.execute(sql).fetch_arrow_table()))
    return out


def verify_catalog(loaded):
    problems = []
    for q, (spark, oracle) in sorted(loaded.items()):
        if spark is None:
            problems.append(f"{q}: no result written")
        elif spark[0] != oracle[0]:
            problems.append(f"{q}: columns {spark[0]} != oracle {oracle[0]}")
        elif len(spark[1]) != len(oracle[1]):
            problems.append(f"{q}: {len(spark[1])} rows, oracle {len(oracle[1])}")
        else:
            diff = next((i for i, (a, b) in enumerate(zip(spark[1], oracle[1]))
                         if a != b), None)
            if diff is not None:
                problems.append(f"{q}: sorted row {diff} differs: "
                                f"{spark[1][diff]} != oracle {oracle[1][diff]}")
        if spark is not None and not spark[1]:
            problems.append(f"{q}: empty result")
    return problems


# ---------------------------------------------------------------------------

def check(workload, work, expected, result):
    extra = result["extra"]
    sources = extra["sources"]
    problems = verify_annotate(load_annotate(work, sources["pos"]), expected, sources)
    if "oracle_sql" in extra:  # the catalog pass of a traced annotate_cold run
        problems += verify_catalog(load_catalog(work, extra["oracle_sql"], expected["data"]))
    return problems


# The listener's output bytes and the on-disk size of the directories the
# last operation wrote must agree within this share (or 0.05 MB for small
# outputs): both count data and checksum files, so only file-system
# bookkeeping separates them.
TRACE_BYTES_TOLERANCE = 0.02
TRACE_BYTES_SLACK_MB = 0.05


def trace_bytes_agree(layers):
    a, b = layers["trace.output_listener_mb"], layers["trace.output_disk_mb"]
    if abs(a - b) > max(TRACE_BYTES_TOLERANCE * max(a, b), TRACE_BYTES_SLACK_MB):
        return [f"listener reports {a:.3f} MB written by output tasks, "
                f"disk holds {b:.3f} MB"]
    return []
