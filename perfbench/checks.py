"""Untimed output checks for perfbench/run.py.

Every expected value comes from the generator's manifest, from DuckDB SQL
over the benchmark's inputs, or from the queries' own oracle SQL; none is
recorded from the engine under test. `check` returns the ops whose output
is wrong (all of their samples count as failed), the individual samples
that are wrong, and a list of human-readable problems.
"""
import glob
import json
import math
import os

import duckdb


def check(workload, rec, work, data):
    fn = {"osm_etl": check_etl, "osm_audit": check_audit, "sf_quick": check_sf}[workload]
    bad_ops, bad_samples, problems = set(), set(), []
    for name, err in (rec.get("result_errors") or {}).items():
        bad_ops.add(name)
        problems.append(f"{name}: result run failed: {err}")
    fn(rec, work, data, bad_ops, bad_samples, problems)
    return bad_ops, bad_samples, problems


def timed_passes(rec):
    """(pass index, pass) for every timed pass; the index names its output dir."""
    return list(enumerate(rec["passes"]))


# --------------------------------------------------------------- osm_etl

def check_etl(rec, work, data, bad_ops, bad_samples, problems):
    """Per-type doc parity against the generator; every line is JSON with
    `_id` and `doc_type`. Checks the result pass and every timed pass."""
    man = rec["manifest"]
    want = {"node": man["node"], "way": man["way"], "relation": man["relation"]}
    outputs = [(None, os.path.join(work, "results", "etl"))]
    outputs += [(i, os.path.join(work, "out", f"p{i}", "etl")) for i, _ in timed_passes(rec)]
    for i, d in outputs:
        problem = etl_output_problem(d, want)
        if problem:
            problems.append(f"etl output {d}: {problem}")
            if i is None:
                bad_ops.add("etl")
            else:
                bad_samples.add((i, "etl"))


def etl_output_problem(d, want):
    counts = {}
    parts = sorted(glob.glob(os.path.join(d, "part-*")))
    if not parts:
        return "no part files"
    for p in parts:
        with open(p, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                try:
                    doc = json.loads(line)
                except ValueError as e:
                    return f"{os.path.basename(p)}:{n} is not JSON ({e})"
                if not isinstance(doc, dict) or "_id" not in doc or "doc_type" not in doc:
                    return f"{os.path.basename(p)}:{n} lacks _id or doc_type"
                counts[doc["doc_type"]] = counts.get(doc["doc_type"], 0) + 1
    if counts != want:
        return f"doc counts {counts} != generated {want}"
    return None


# -------------------------------------------------------------- sf_quick

def norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    return v


def norm_rows(cols, rows):
    """Columns sorted by name, rows sorted by value (tools/verify_local.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def fetch(con, sql):
    r = con.execute(sql)
    return [d[0] for d in r.description], r.fetchall()


def result_sql(work, name):
    return f"SELECT * FROM '{os.path.join(work, 'results', name)}/*.parquet'"


def check_rows(rec, name, want, bad_samples, problems):
    """Each timed sample of `name` must return `want` rows."""
    for i, p in timed_passes(rec):
        for op in p["ops"]:
            if op["name"] == name and not op["error"] and op["rows"] != want:
                bad_samples.add((i, name))
                problems.append(f"{name} pass {i}: {op['rows']} rows, expected {want}")


def check_sf(rec, work, data, bad_ops, bad_samples, problems):
    """Each query's result against its oracle SQL in DuckDB over the same
    tables; rows-only (non-empty, stable count) where no oracle exists."""
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = sorted({op["name"] for p in rec["passes"] for op in p["ops"]})
    for name in names:
        if name in bad_ops:
            continue
        try:
            scols, srows = fetch(con, result_sql(work, name))
        except duckdb.Error as e:
            bad_ops.add(name)
            problems.append(f"{name}: result unreadable: {e}")
            continue
        if name not in oracles:
            if not srows:
                bad_ops.add(name)
                problems.append(f"{name}: empty result (rows-only check)")
            check_rows(rec, name, len(srows), bad_samples, problems)
            continue
        try:
            ocols, orows = fetch(con, oracles[name])
        except duckdb.Error as e:
            bad_ops.add(name)
            problems.append(f"{name}: oracle SQL failed: {e}")
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc or sr != orr:
            bad_ops.add(name)
            diff = next(((a, b) for a, b in zip(sr, orr) if a != b), None)
            problems.append(f"{name}: differs from oracle (cols {sc} vs {oc}, "
                            f"rows {len(sr)} vs {len(orr)}, first diff {diff})")
        check_rows(rec, name, len(orows), bad_samples, problems)


# ------------------------------------------------------------- osm_audit

def has_key(key):
    """OsmAudit.hasKey: the key in any typed tag map, or a subdocument path."""
    maps = ["tags", "list_tags", "int_tags", "float_tags", "bool_tags"]
    terms = [f"coalesce(list_contains(map_keys({m}), '{key}'), false)" for m in maps]
    terms.append(f"coalesce(len(list_filter(map_keys(subdocs), k -> k = '{key}' "
                 f"OR starts_with(k, '{key}:'))) > 0, false)")
    return "(" + " OR ".join(terms) + ")"


REFS = """(SELECT _id, unnest(node_refs) AS ref FROM docs
           UNION ALL
           SELECT _id, m.ref AS ref FROM (SELECT _id, unnest(members) AS m FROM docs))"""

REF_DOCS = f"""SELECT ref AS _id, list_sort(list(DISTINCT _id)) AS refers
               FROM {REFS} WHERE ref IS NOT NULL GROUP BY ref"""

MISMATCHES = """SELECT rel_id, m.ref AS ref, m.type AS declared_type, t.doc_type AS actual_type
                FROM (SELECT _id AS rel_id, unnest(members) AS m FROM docs
                      WHERE doc_type = 'relation') r
                JOIN docs t ON m.ref = t._id WHERE m.type <> t.doc_type"""

TAG_PROFILE = """SELECT k AS tag_key, count(*) AS tag_use_count, count(DISTINCT v) AS uniq_count,
                   round(count(*)::DOUBLE / count(DISTINCT v), 4) AS usage_per_uniq
                 FROM (SELECT unnest(map_keys(tags)) AS k, unnest(map_values(tags)) AS v
                       FROM docs) GROUP BY k"""

HAS_POSTCODE = "coalesce(list_contains(map_keys(addr), 'postcode'), false)"
HAS_STATE = "coalesce(list_contains(map_keys(addr), 'state'), false)"
STATE = "map_extract(addr, 'state')[1]"

# Scalar-column ops: the engine's rows must equal this SQL's rows.
AUDIT_SQL = {
    "uniqueUsers": "SELECT count(DISTINCT created.uid) AS n_users FROM docs",
    "countDocsBy": f"SELECT doc_type, count(*) AS count FROM docs WHERE {has_key('amenity')} "
                   "GROUP BY doc_type",
    "auditRefTypes": """SELECT t.doc_type AS t_type, count(*) AS ref_count,
                          count(DISTINCT way_id) AS n_ways
                        FROM (SELECT _id AS way_id, unnest(node_refs) AS ref FROM docs
                              WHERE doc_type = 'way') w
                        LEFT JOIN docs t ON w.ref = t._id GROUP BY t.doc_type""",
    "docTypeMismatches": MISMATCHES,
    "mostRefd": f"""SELECT r._id, len(r.refers) AS refer_count, d.created.user AS contributor
                    FROM ({REF_DOCS}) r JOIN docs d ON r._id = d._id
                    WHERE {has_key('highway')}
                    ORDER BY refer_count DESC, r._id LIMIT 10""",
    "updateStatesReport": f"""SELECT
                    sum(CASE WHEN {HAS_POSTCODE} THEN 1 ELSE 0 END) AS matched,
                    sum(CASE WHEN {HAS_POSTCODE} AND NOT coalesce({STATE} = 'WA', false)
                        THEN 1 ELSE 0 END) AS modified,
                    sum(CASE WHEN {HAS_STATE} THEN 1 ELSE 0 END) AS state_pre,
                    sum(CASE WHEN {HAS_POSTCODE} OR {HAS_STATE} THEN 1 ELSE 0 END) AS state_post
                  FROM docs""",
    "tagKeyProfile": TAG_PROFILE,
    "violations": """SELECT _id, doc_type FROM docs WHERE
        (doc_type = 'node' AND (node_refs IS NOT NULL OR members IS NOT NULL OR pos IS NULL))
        OR (doc_type = 'way' AND (pos IS NOT NULL OR members IS NOT NULL OR node_refs IS NULL))
        OR (doc_type = 'relation' AND (pos IS NOT NULL OR node_refs IS NOT NULL
                                       OR members IS NULL))""",
}

ELEMENT_ATTRS = {
    "osm": ["data-nodes", "data-relations", "data-ways", "generator", "version"],
    "bounds": ["maxlat", "maxlon", "minlat", "minlon"],
    "node": ["changeset", "id", "lat", "lon", "timestamp", "uid", "user", "version"],
    "way": ["changeset", "id", "timestamp", "uid", "user", "version"],
    "relation": ["changeset", "id", "timestamp", "uid", "user", "version"],
    "tag": ["k", "v"], "nd": ["ref"], "member": ["ref", "role", "type"],
}
ELEMENT_SUBS = {
    "osm": ["bounds", "member", "nd", "node", "relation", "tag", "way"],
    "node": ["tag"], "way": ["nd", "tag"], "relation": ["member", "tag"],
}


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and \
            abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def audit_expectations(con, man):
    """Expected (rows, comparator) per audit op, from SQL and the manifest."""
    n_docs = man["node"] + man["way"] + man["relation"]
    exp = {}
    for name, sql in AUDIT_SQL.items():
        cols, rows = fetch(con, sql)
        exp[name] = ("rows", norm_rows(cols, rows))
    exp["refDocs"] = ("digest", sorted(
        f"{r[0]}:{','.join(r[1])}" for r in fetch(con, REF_DOCS)[1]))
    exp["bikeServices"] = ("ids", sorted(r[0] for r in fetch(con, f"""
        SELECT _id FROM docs WHERE
          coalesce(len(list_filter(map_keys(subdocs), k -> starts_with(k, 'service:bicycle'))) > 0,
                   false)
          OR coalesce(list_contains(map_extract(list_tags, 'shop')[1], 'bicycle'), false)
          OR coalesce(list_contains(map_extract(list_tags, 'amenity')[1],
                                    'bicycle_repair_station'), false)""")[1]))
    wa = fetch(con, f"SELECT count(*) FROM docs WHERE {HAS_POSTCODE} "
                    f"OR coalesce({STATE} = 'WA', false)")[1][0][0]
    exp["updateStates"] = ("update", (n_docs, wa))
    n_mismatched = fetch(con, f"SELECT count(DISTINCT rel_id) FROM ({MISMATCHES})")[1][0][0]
    exp["fixMismatchedRefs"] = ("fix", (n_docs, n_mismatched))
    exp["tagProfileSummary"] = ("summary", fetch(con, TAG_PROFILE)[1])
    counts = {"osm": 1, "bounds": 1}
    counts.update({k: man[k] for k in ("node", "way", "relation", "tag", "nd", "member")})
    exp["elementProfile"] = ("profile", counts)
    if fetch(con, "SELECT count(*) FROM docs")[1][0][0] != n_docs:
        raise AssertionError("stored collection size differs from the generated element count")
    if exp["uniqueUsers"][1][1] != [(man["users"],)]:
        raise AssertionError("distinct contributors differ from the generator's")
    return exp


def audit_problem(con, work, name, kind, want):
    """Compares one op's result with its expectation; returns (rows, problem)."""
    cols, rows = fetch(con, result_sql(work, name))
    if kind == "rows":
        got = norm_rows(cols, rows)
        ok = got[0] == want[0] and len(got[1]) == len(want[1]) and \
            all(close(a, b) for a, b in zip(got[1], want[1]))
        return len(want[1]), None if ok else f"rows differ from SQL: {got[1][:3]} vs {want[1][:3]}"
    if kind == "digest":
        got = sorted(f"{r[cols.index('_id')]}:{','.join(r[cols.index('refers')])}" for r in rows)
        return len(want), None if got == want else "inverted index differs from SQL"
    if kind == "ids":
        got = sorted(r[cols.index("_id")] for r in rows)
        return len(want), None if got == want else f"ids {got[:5]} != {want[:5]}"
    if kind == "update":
        path = result_sql(work, name)
        n, wa = fetch(con, f"SELECT count(*), count(*) FILTER (WHERE coalesce({STATE} = 'WA', "
                           f"false)) FROM ({path})")[1][0]
        return want[0], None if (n, wa) == want else f"(docs, state=WA) {(n, wa)} != {want}"
    if kind == "fix":
        path = result_sql(work, name)
        n, changed = fetch(con, f"""SELECT count(*), count(*) FILTER (WHERE r.members::VARCHAR
                                    IS DISTINCT FROM d.members::VARCHAR)
                                    FROM ({path}) r JOIN docs d USING (_id)""")[1][0]
        return want[0], None if (n, changed) == want else f"(docs, fixed) {(n, changed)} != {want}"
    if kind == "summary":
        stats = {r[0]: r[1:] for r in rows}
        cols_ = ["tag_use_count", "uniq_count", "usage_per_uniq"]
        prof = list(zip(*[(r[1], r[2], r[3]) for r in want])) if want else [(), (), ()]
        for j, c in enumerate(cols_):
            vals = [float(v) for v in prof[j]]
            got = {k: float(v[cols.index(c) - 1]) for k, v in stats.items()}
            if got.get("count") != len(vals) or not close(got.get("min"), min(vals)) or \
                    not close(got.get("max"), max(vals)) or \
                    not close(got.get("mean"), sum(vals) / len(vals)):
                return 14, f"summary of {c} differs: {got}"
            if any(not (min(vals) <= got[f"{p}0%"] <= max(vals)) for p in range(1, 10)):
                return 14, f"percentiles of {c} outside [min, max]"
        return 14, None if len(rows) == 14 else f"{len(rows)} summary rows"
    if kind == "profile":
        got = {r[cols.index("element_type")]: r for r in rows}
        for t, n in want.items():
            r = got.get(t)
            if r is None or r[cols.index("count")] != n or \
                    list(r[cols.index("attributes")]) != ELEMENT_ATTRS[t] or \
                    list(r[cols.index("sub_els")]) != ELEMENT_SUBS.get(t, []):
                return len(want), f"element {t}: {r} (want count {n})"
        return len(want), None if len(got) == len(want) else f"types {sorted(got)}"
    raise ValueError(kind)


def check_audit(rec, work, data, bad_ops, bad_samples, problems):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{work}/docs.parquet/*.parquet'")
    try:
        exp = audit_expectations(con, rec["manifest"])
    except (AssertionError, duckdb.Error) as e:
        bad_ops.update(op["name"] for p in rec["passes"] for op in p["ops"])
        problems.append(f"stored collection: {e}")
        return
    for name, (kind, want) in exp.items():
        if name in bad_ops:
            continue
        try:
            rows, problem = audit_problem(con, work, name, kind, want)
        except (duckdb.Error, ValueError, KeyError, IndexError, TypeError) as e:
            rows, problem = None, f"check failed: {e}"
        if problem:
            bad_ops.add(name)
            problems.append(f"{name}: {problem}")
        if rows is not None:
            check_rows(rec, name, rows, bad_samples, problems)
