"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes all of its
inputs under one directory before anything is timed; the program only
ever sees the files written here. The seed moves content (coordinates,
words, vectors), never the shape of the work. Each returns (and writes
as JSON) the facts the output checks need: expected published row
counts for ``etl_geo``; for ``corpus_index`` the planted duplicate
clusters and the id bookkeeping of the index rounds (base, ingest and
delete batches, queries).
"""
import json
import os
import random
import sqlite3
import struct
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# etl_geo: a chosen source set, one source per kind the pipeline reads
# ---------------------------------------------------------------------------

# A concave (L-shaped) AOI in EPSG:3006: the lower rectangle plus the
# upper-left one; the upper-right "notch" lies inside the AOI's envelope
# but outside the polygon, so only the exact clip can reject it.
X0, Y0 = 500000.0, 6600000.0
AOI_WKT = ("POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, "
           "%.1f %.1f, %.1f %.1f, %.1f %.1f))" % (
               X0, Y0, X0 + 60000, Y0, X0 + 60000, Y0 + 40000,
               X0 + 30000, Y0 + 40000, X0 + 30000, Y0 + 80000,
               X0, Y0 + 80000, X0, Y0))
MARGIN = 1000.0  # every wholly-in/out feature keeps this far from an edge
INSIDE = [(X0, Y0, X0 + 60000, Y0 + 40000), (X0, Y0 + 40000, X0 + 30000, Y0 + 80000)]
OUTSIDE = [(X0 + 30000, Y0 + 40000, X0 + 60000, Y0 + 80000),  # the notch
           (X0 - 30000, Y0, X0, Y0 + 80000),                   # west of the AOI
           (X0, Y0 - 30000, X0 + 60000, Y0)]                   # south of it
# straddled edges: the AOI's west edge and the notch's concave edge
EDGES = [(X0, Y0, Y0 + 80000), (X0 + 30000, Y0 + 40000, Y0 + 80000)]
SRS_URN = "urn:ogc:def:crs:EPSG::3006"
PRJ_3006 = ('PROJCS["SWEREF99 TM",GEOGCS["GCS_SWEREF99",DATUM["D_SWEREF99",'
            'SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],'
            'UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],'
            'UNIT["Meter",1.0],AUTHORITY["EPSG","3006"]]')


def _shape(rng, kind, cx, cy, size):
    """One geometry of `kind` within `size` metres of (cx, cy)."""
    if kind == "point":
        return ("point", (round(cx, 3), round(cy, 3)))
    if kind == "line":
        n = rng.randint(2, 5)
        pts = [(round(cx + rng.uniform(-size, size), 3),
                round(cy + rng.uniform(-size, size), 3)) for _ in range(n)]
        return ("line", pts)
    w, h = rng.uniform(size / 3, size), rng.uniform(size / 3, size)
    x0, y0, x1, y1 = (round(cx - w, 3), round(cy - h, 3),
                      round(cx + w, 3), round(cy + h, 3))
    # clockwise outer ring (the shapefile convention)
    return ("polygon", [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)])


def _feature(rng, kind, placement):
    size = rng.uniform(50, 400)
    if placement == "straddle":
        ex, ya, yb = rng.choice(EDGES)
        cy = rng.uniform(ya + MARGIN, yb - MARGIN)
        if kind == "line":
            return ("line", [(round(ex - rng.uniform(20, size), 3), round(cy, 3)),
                             (round(ex + rng.uniform(20, size), 3),
                              round(cy + rng.uniform(-size, size), 3))])
        return _shape(rng, "polygon", ex + rng.uniform(-10, 10), cy, size)
    box = rng.choice(INSIDE if placement == "inside" else OUTSIDE)
    cx = rng.uniform(box[0] + MARGIN, box[2] - MARGIN)
    cy = rng.uniform(box[1] + MARGIN, box[3] - MARGIN)
    return _shape(rng, kind, cx, cy, size)


def _features(rng, n, mix):
    """n features of the geometry mix, each wholly inside, wholly outside
    or straddling the AOI; returns (features, expected published rows)."""
    feats, keep = [], 0
    for i in range(n):
        kind = rng.choice(["point", "line", "polygon"]) if mix == "mixed" else mix
        r = rng.random()
        placement = ("straddle" if r < 0.05 and kind != "point"
                     else "inside" if r < 0.55 else "outside")
        keep += placement != "outside"
        props = {"name": "f%06d" % i, "klass": rng.choice(["a", "b", "c", "d"]),
                 "value": str(rng.randint(0, 10 ** 6))}
        feats.append((_feature(rng, kind, placement), props))
    return feats, keep


def _geojson_geom(g):
    kind, c = g
    if kind == "point":
        return {"type": "Point", "coordinates": list(c)}
    if kind == "line":
        return {"type": "LineString", "coordinates": [list(p) for p in c]}
    return {"type": "Polygon", "coordinates": [[list(p) for p in c]]}


def _feature_collection(feats, crs=True):
    fc = {"type": "FeatureCollection",
          "features": [{"type": "Feature", "properties": p,
                        "geometry": _geojson_geom(g)} for g, p in feats]}
    if crs:
        fc["crs"] = {"type": "name", "properties": {"name": SRS_URN}}
    return fc


def _write_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"))


def _wkb(g):
    kind, c = g
    if kind == "point":
        return struct.pack("<BIdd", 1, 1, *c)
    if kind == "line":
        return struct.pack("<BII", 1, 2, len(c)) + b"".join(struct.pack("<dd", *p) for p in c)
    return (struct.pack("<BIII", 1, 3, 1, len(c)) +
            b"".join(struct.pack("<dd", *p) for p in c))


def _write_gpkg(path, feats):
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("""CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL,
        srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL,
        organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL,
        description TEXT)""")
    cur.execute("INSERT INTO gpkg_spatial_ref_sys VALUES "
                "('SWEREF99 TM', 3006, 'EPSG', 3006, 'undefined', NULL)")
    cur.execute("""CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY KEY,
        data_type TEXT NOT NULL, identifier TEXT UNIQUE, description TEXT DEFAULT '',
        last_change DATETIME, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE,
        max_y DOUBLE, srs_id INTEGER)""")
    cur.execute("""CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL,
        column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL,
        srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL,
        CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))""")
    cur.execute("""CREATE TABLE features (fid INTEGER PRIMARY KEY, name TEXT,
        klass TEXT, value INTEGER, geom BLOB)""")
    cur.execute("INSERT INTO gpkg_contents VALUES ('features','features',"
                "'features','',NULL,NULL,NULL,NULL,NULL,3006)")
    cur.execute("INSERT INTO gpkg_geometry_columns VALUES "
                "('features','geom','GEOMETRY',3006,0,0)")
    cur.executemany(
        "INSERT INTO features (name, klass, value, geom) VALUES (?,?,?,?)",
        [(p["name"], p["klass"], int(p["value"]),
          b"GP" + bytes([0, 1]) + struct.pack("<i", 3006) + _wkb(g))
         for g, p in feats])
    con.commit()
    con.close()


def _shp(shape_type, contents, bbox):
    body = b"".join(struct.pack(">ii", i + 1, len(c) // 2) + c
                    for i, c in enumerate(contents))
    header = struct.pack(">iiiiiii", 9994, 0, 0, 0, 0, 0, (100 + len(body)) // 2)
    header += struct.pack("<ii", 1000, shape_type) + struct.pack("<dddd", *bbox)
    return header + struct.pack("<dddd", 0, 0, 0, 0) + body


def _shp_record(g):
    kind, c = g
    if kind == "point":
        return struct.pack("<idd", 1, *c)
    xs, ys = [p[0] for p in c], [p[1] for p in c]
    return (struct.pack("<i", 3 if kind == "line" else 5) +
            struct.pack("<dddd", min(xs), min(ys), max(xs), max(ys)) +
            struct.pack("<iii", 1, len(c), 0) +
            b"".join(struct.pack("<dd", *p) for p in c))


def _dbf(rows):
    fields = [("NAME", "C", 12), ("KLASS", "C", 4), ("VALUE", "N", 10)]
    rec = 1 + sum(f[2] for f in fields)
    out = struct.pack("<BBBBiHH20x", 3, 26, 1, 1, len(rows), 32 + 32 * len(fields) + 1, rec)
    for name, ftype, flen in fields:
        out += name.encode().ljust(11, b"\0") + ftype.encode() + b"\0" * 4
        out += struct.pack("<BB", flen, 0) + b"\0" * 14
    out += b"\x0d"
    for p in rows:
        out += b" " + p["name"].ljust(12).encode() + p["klass"].ljust(4).encode()
        out += p["value"].rjust(10).encode()
    return out + b"\x1a"


def _write_shp_zip(path, stem, feats):
    """One shapefile per geometry kind present, all in one archive."""
    with zipfile.ZipFile(path, "w") as z:
        for kind, stype in (("point", 1), ("line", 3), ("polygon", 5)):
            part = [(g, p) for g, p in feats if g[0] == kind]
            if not part:
                continue
            pts = [c for g, _ in part for c in ([g[1]] if kind == "point" else g[1])]
            bbox = (min(p[0] for p in pts), min(p[1] for p in pts),
                    max(p[0] for p in pts), max(p[1] for p in pts))
            name = "%s_%s" % (stem, kind)
            for ext, data in ((".shp", _shp(stype, [_shp_record(g) for g, _ in part], bbox)),
                              (".dbf", _dbf([p for _, p in part])), (".prj", PRJ_3006)):
                # a fixed timestamp keeps the archive's bytes a function of the seed
                z.writestr(zipfile.ZipInfo(name + ext, (1980, 1, 1, 0, 0, 0)), data,
                           compress_type=zipfile.ZIP_DEFLATED)


def _write_paged(layer_dir, feats, page, fname, link=False):
    pages = [feats[i:i + page] for i in range(0, len(feats), page)] or [[]]
    for i, chunk in enumerate(pages):
        fc = _feature_collection(chunk, crs=not link)
        if link and i + 1 < len(pages):
            fc["links"] = [{"rel": "next", "href": fname % (i + 2)}]
        _write_json(os.path.join(layer_dir, fname % (i + 1)), fc)


def _write_source(root, name, kind, feats, http_base):
    """Write one source; returns its sources.yaml entry."""
    entry = {"name": name, "authority": "BENCH"}
    if kind in ("geojson", "http"):
        sub = "http" if kind == "http" else "files"
        path = os.path.join(root, sub, name + ".geojson")
        _write_json(path, _feature_collection(feats))
        url = "%s/%s.geojson" % (http_base, name) if kind == "http" else path
        entry.update(type="file", url=url)
    elif kind == "shp_zip":
        path = os.path.join(root, "files", name + ".zip")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write_shp_zip(path, name, feats)
        entry.update(type="file", url=path)
    elif kind == "gpkg":
        path = os.path.join(root, "files", name + ".gpkg")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write_gpkg(path, feats)
        entry.update(type="file", url=path)
    elif kind == "rest":
        svc = os.path.join(root, "rest", name)
        kinds = sorted({g[0] for g, _ in feats}) or ["point"]
        for lid, k in enumerate(kinds):
            _write_paged(os.path.join(svc, "layer-%d" % lid),
                         [f for f in feats if f[0][0] == k], 1000, "page-%d.json")
        entry.update(type="rest_api", url=svc)
    else:  # ogc
        svc = os.path.join(root, "ogc", name)
        kinds = sorted({g[0] for g, _ in feats}) or ["point"]
        _write_json(os.path.join(svc, "collections.json"), {"collections": [
            {"id": k, "title": k,
             "storageCrs": "http://www.opengis.net/def/crs/EPSG/0/3006"} for k in kinds]})
        for k in kinds:
            _write_paged(os.path.join(svc, "collections", k),
                         [f for f in feats if f[0][0] == k], 1000, "items-%d.json", link=True)
        entry.update(type="ogc_api", url=svc)
    return entry


def _yaml(entries):
    lines = ["sources:"]
    for e in entries:
        lines.append("  - name: %s" % e["name"])
        for k in ("authority", "type", "url"):
            lines.append("    %s: %s" % (k, json.dumps(e[k])))
    return "\n".join(lines) + "\n"


# The source set's shape is fixed; the seed moves every coordinate and
# attribute. The shape is chosen, not measured: the size ladder, which kind
# gets which size and geometry, and the 50/45/5 inside/outside/straddle
# split (which sets geo.clip_keep_ratio) are picked to give one source per
# kind with heavy-tailed sizes and all three geometry types. All that is
# known of the reference's production run is 53 sources, 529 s in total and
# a largest table of 19,579 rows; a run of that size cannot be repeated
# often enough to measure.
ETL_SOURCES = [("rest", 2000, "mixed"), ("geojson", 933, "polygon"),
               ("shp_zip", 595, "mixed"), ("gpkg", 434, "line"),
               ("ogc", 339, "point"), ("http", 277, "mixed")]


# The untimed warm-up set: the same kinds and geometry, a tenth the size.
ETL_WARM_SHARE = 10


def gen_etl(seed, root, http_base):
    """The chosen source set (ETL_SOURCES): heavy-tailed sizes, every
    kind, mixed geometry. Writes sources.yaml, aoi.wkt and expected.json,
    and warm.yaml: a small disjoint set of the same kinds for set-up."""
    rng = random.Random(seed)
    expected, timed, warm = {}, [], []
    for i, (kind, n, mix) in enumerate(ETL_SOURCES):
        name = "src_%02d_%s" % (i, kind)
        feats, keep = _features(rng, n, mix)
        timed.append(_write_source(root, name, kind, feats, http_base))
        expected[name] = keep
    for i, (kind, n, mix) in enumerate(ETL_SOURCES):
        feats, _ = _features(rng, n // ETL_WARM_SHARE, mix)
        warm.append(_write_source(root, "warm_src_%02d_%s" % (i, kind), kind, feats, http_base))
    with open(os.path.join(root, "sources.yaml"), "w") as f:
        f.write(_yaml(timed))
    with open(os.path.join(root, "warm.yaml"), "w") as f:
        f.write(_yaml(warm))
    with open(os.path.join(root, "aoi.wkt"), "w") as f:
        f.write(AOI_WKT)
    facts = {"expected_rows": expected}
    _write_json(os.path.join(root, "expected.json"), facts)
    return facts


# ---------------------------------------------------------------------------
# corpus_index, prep half: a multilingual Zipf corpus with planted duplicates
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "den", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "du", "que", "pour"],
    "es": ["el", "los", "las", "es", "una", "del", "por", "con", "para", "como"],
    "sv": ["och", "att", "det", "som", "en", "av", "är", "för", "med", "på"],
}
SYLLABLES = {
    "en": ["th", "er", "on", "an", "re", "he", "in", "ed", "nd", "ha", "at", "en", "es", "or"],
    "de": ["en", "er", "ch", "ei", "ie", "in", "ge", "st", "un", "te", "be", "sch", "au"],
    "fr": ["es", "le", "de", "en", "on", "nt", "re", "ou", "ai", "eu", "qu", "ti", "au"],
    "es": ["de", "la", "en", "el", "os", "ar", "es", "ci", "ad", "io", "nt", "ra", "co"],
    "sv": ["en", "et", "er", "ar", "an", "de", "st", "tt", "sk", "nd", "ll", "or", "ig"],
}
CORPUS_DOCS = 3000
CORPUS_WARM_DOCS = 300
CORPUS_VOCAB = 4000
EXACT_RATE = 0.05    # share of distinct texts copied into an exact-dup cluster
NEAR_RATE = 0.05     # share of distinct texts given near-duplicate variants
NEAR_EDIT = 0.03     # share of a variant's tokens substituted
FAR_RATE = 0.03      # share of distinct texts given a distant, unplanted variant
FAR_EDIT = 0.2       # its share of substituted tokens: below the near-dup cut


def _vocab(rng, lang):
    words, seen = list(STOPWORDS[lang]), set(STOPWORDS[lang])
    syl = SYLLABLES[lang]
    while len(words) < CORPUS_VOCAB:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _pii(rng):
    r = rng.randint(0, 2)
    if r == 0:
        return "%s.%s%d@mail%d.example.com" % (rng.choice(["anna", "erik", "li", "omar"]),
                                              rng.choice(["berg", "lund", "kim"]),
                                              rng.randint(1, 99), rng.randint(1, 9))
    if r == 1:
        return "+46 70 %03d %02d %02d" % (rng.randint(0, 999), rng.randint(0, 99), rng.randint(0, 99))
    return "https://example.org/p/%d" % rng.randint(1, 10 ** 6)


def _corpus(rng, nrng, vocabs, n_docs):
    """n_docs texts with planted exact and near-dup clusters and distant
    variants; returns (texts, [("exact"|"near"|"far", [text indexes])])."""
    langs = list(STOPWORDS)
    ranks = np.arange(1, CORPUS_VOCAB + 1)
    zipf = 1.0 / ranks ** 1.07
    zipf /= zipf.sum()
    n_exact = int(n_docs * EXACT_RATE)
    n_near = int(n_docs * NEAR_RATE)
    n_far = int(n_docs * FAR_RATE)
    # 1-3 extra members per cluster, in a fixed pattern
    exact_copies = [1 + i % 3 for i in range(n_exact)]
    near_copies = [1 + i % 3 for i in range(n_near)]
    n_base = n_docs - sum(exact_copies) - sum(near_copies) - n_far
    bases = []
    for _ in range(n_base):
        lang = langs[min(int(nrng.exponential(1.2)), len(langs) - 1)]
        n = int(nrng.integers(40, 160))
        toks = [vocabs[lang][i] for i in nrng.choice(CORPUS_VOCAB, size=n, p=zipf)]
        if rng.random() < 0.15:
            toks.insert(rng.randrange(len(toks)), _pii(rng))
        # a few sentence breaks keep punctuation realistic but low
        for j in range(12, len(toks), 17):
            toks[j] += "."
        bases.append((lang, toks))
    texts = [" ".join(toks) for _, toks in bases]
    groups = []
    order = list(range(n_base))
    rng.shuffle(order)
    exact_bases, near_bases = order[:n_exact], order[n_exact:n_exact + n_near]
    far_bases = order[n_exact + n_near:n_exact + n_near + n_far]
    for b, k in zip(exact_bases, exact_copies):
        members = [b]
        for _ in range(k):
            texts.append(texts[b])
            members.append(len(texts) - 1)
        groups.append(("exact", members))

    def variant(b, edit):
        lang, toks = bases[b]
        v = list(toks)
        for j in rng.sample(range(len(v)), max(1, int(len(v) * edit))):
            v[j] = vocabs[lang][rng.randrange(50, CORPUS_VOCAB)]
        texts.append(" ".join(v))
        return len(texts) - 1

    for b, k in zip(near_bases, near_copies):
        groups.append(("near", [b] + [variant(b, NEAR_EDIT) for _ in range(k)]))
    for b in far_bases:
        groups.append(("far", [b, variant(b, FAR_EDIT)]))
    return texts, groups


def gen_corpus(seed, root):
    """corpus.parquet (doc_id, text) plus planted.json: the exact-dup and
    near-dup clusters (id lists), the planted near-dup (base, variant)
    pairs, and the (base, distant variant) pairs that are not duplicates.
    warm.parquet is a small disjoint corpus for the untimed warm-up."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocabs = {l: _vocab(rng, l) for l in STOPWORDS}
    texts, groups = _corpus(rng, nrng, vocabs, CORPUS_DOCS)
    ids = list(range(len(texts)))
    rng.shuffle(ids)  # doc_id of text i; clusters are scattered over the id space
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
                   os.path.join(root, "corpus.parquet"))
    warm, _ = _corpus(rng, nrng, vocabs, CORPUS_WARM_DOCS)
    pq.write_table(pa.table({"doc_id": pa.array(range(len(warm)), pa.int64()),
                             "text": pa.array(warm)}),
                   os.path.join(root, "warm.parquet"))
    def clusters(kind):
        return [sorted(ids[m] for m in ms) for g, ms in groups if g == kind]

    facts = {
        "docs": len(texts),
        "exact_clusters": clusters("exact"),
        "near_clusters": clusters("near"),
        "near_pairs": sorted([min(ids[ms[0]], ids[m]), max(ids[ms[0]], ids[m])]
                             for g, ms in groups if g == "near" for m in ms[1:]),
        "far_pairs": clusters("far"),
    }
    _write_json(os.path.join(root, "planted.json"), facts)
    return facts


# ---------------------------------------------------------------------------
# corpus_index, index half: base / ingest / delete batches for both indexes
# ---------------------------------------------------------------------------

DIM = 64            # m=4 sub-quantizers x subDim=16, the library defaults
VEC_BASE = 2000
VEC_INGEST = 300    # per round, one streamed micro-batch
VEC_DELETE = 80     # per round
QUERIES = 6         # single-query serves per round
DOC_BASE = 1000
DOC_BATCH = 200     # per round; a fifth are near-dups of live docs
DOC_DELETE = 50     # per round
ROUNDS = 3          # rounds available; both indexes compact after each


def _vectors(nrng, centres, n):
    c = centres[nrng.integers(0, len(centres), size=n)]
    v = c + 0.25 * nrng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vec_table(ids, vecs):
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})


def _doc_text(rng, nrng, vocab, zipf):
    n = int(nrng.integers(40, 120))
    return " ".join(vocab[i] for i in nrng.choice(len(vocab), size=n, p=zipf))


def _near_variant(rng, text, vocab):
    toks = text.split(" ")
    for j in rng.sample(range(len(toks)), max(1, len(toks) * 3 // 100)):
        toks[j] = vocab[rng.randrange(50, len(vocab))]
    return " ".join(toks)


def gen_index(seed, root):
    """Vectors and documents for ROUNDS rounds of writes beside reads.
    Writes parquet inputs under root and rounds.json with the id
    bookkeeping; every id a batch deletes is live when it is deleted."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    centres = nrng.standard_normal((32, DIM))
    vecs = _vectors(nrng, centres, VEC_BASE)
    pq.write_table(_vec_table(range(VEC_BASE), vecs), os.path.join(root, "vec_base.parquet"))
    vocab = _vocab(rng, "en")
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.07
    zipf /= zipf.sum()
    docs = {i: _doc_text(rng, nrng, vocab, zipf) for i in range(DOC_BASE)}
    pq.write_table(pa.table({"doc_id": pa.array(list(docs), pa.int64()),
                             "text": pa.array(list(docs.values()))}),
                   os.path.join(root, "doc_base.parquet"))
    live_vecs = list(range(VEC_BASE))
    live_base_docs = list(range(DOC_BASE))
    all_vecs = [vecs]
    next_vec, next_doc = VEC_BASE, DOC_BASE
    rounds = []
    for r in range(ROUNDS):
        new = _vectors(nrng, centres, VEC_INGEST)
        new_ids = list(range(next_vec, next_vec + VEC_INGEST))
        next_vec += VEC_INGEST
        all_vecs.append(new)
        pq.write_table(_vec_table(new_ids, new), os.path.join(root, "vec_r%d.parquet" % r))
        live_vecs += new_ids
        dels = sorted(rng.sample(live_vecs, VEC_DELETE))
        gone = set(dels)
        live_vecs = [i for i in live_vecs if i not in gone]
        pq.write_table(pa.table({"vec_id": pa.array(dels, pa.int64())}),
                       os.path.join(root, "vecdel_r%d.parquet" % r))
        queries = sorted(rng.sample(live_vecs, QUERIES))
        qv = np.concatenate(all_vecs)[queries]
        pq.write_table(_vec_table(queries, qv), os.path.join(root, "queries_r%d.parquet" % r))
        batch, planted = {}, []
        for _ in range(DOC_BATCH):
            if rng.random() < 0.2:
                src = rng.choice(live_base_docs)
                batch[next_doc] = _near_variant(rng, docs[src], vocab)
                planted.append([next_doc, src])
            else:
                batch[next_doc] = _doc_text(rng, nrng, vocab, zipf)
            next_doc += 1
        pq.write_table(pa.table({"doc_id": pa.array(list(batch), pa.int64()),
                                 "text": pa.array(list(batch.values()))}),
                       os.path.join(root, "doc_r%d.parquet" % r))
        doc_dels = sorted(rng.sample(live_base_docs, DOC_DELETE))
        gone_docs = set(doc_dels)
        live_base_docs = [i for i in live_base_docs if i not in gone_docs]
        pq.write_table(pa.table({"doc_id": pa.array(doc_dels, pa.int64())}),
                       os.path.join(root, "docdel_r%d.parquet" % r))
        rounds.append({"vec_ingest": new_ids, "vec_delete": dels, "queries": queries,
                       "live_vecs": len(live_vecs), "doc_batch": len(batch),
                       "doc_planted": planted, "doc_delete": doc_dels})
    np.save(os.path.join(root, "all_vectors.npy"), np.concatenate(all_vecs))
    facts = {"vec_base": VEC_BASE, "doc_base": DOC_BASE, "rounds": rounds}
    _write_json(os.path.join(root, "rounds.json"), facts)
    return facts
