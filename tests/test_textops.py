"""Training-data pipeline operators: dedup, similarity, text analysis."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotrellis_landsat_emr_demo_spark import gates
from geotrellis_landsat_emr_demo_spark.operators import similarity, textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # small doc corpus with planted exact + near duplicates
    base = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    rows = base.collect()
    extra = [
        # exact dup of doc 0 (id 9001), near-dup of doc 1 (id 9002)
        dict(doc_id=9001, text=rows[0].text, lang=rows[0].lang, source="dup", n_chars=rows[0].n_chars),
        dict(doc_id=9002, text=rows[1].text + " extra tail word", lang=rows[1].lang, source="dup", n_chars=rows[1].n_chars + 16),
    ]
    return base.unionByName(spark.createDataFrame(pd.DataFrame(extra)))


def test_exact_dedup_finds_planted_dup(docs):
    out = textops.exact_dedup(docs).filter(F.col("n_docs") > 1).collect()
    assert len(out) == 1
    assert out[0].n_docs == 2
    assert out[0].keep_doc_id == 0  # first-wins: min doc_id


def test_doc_fingerprint_stable(docs):
    a = {r.doc_id: r.fp for r in textops.doc_fingerprint(docs).collect()}
    b = {r.doc_id: r.fp for r in textops.doc_fingerprint(docs).collect()}
    assert a == b
    assert a[0] == a[9001]  # exact dup -> same fingerprint


def test_minhash_lsh_finds_near_dup(docs):
    pairs = textops.minhash_portable_pairs(docs)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 9001) in got  # exact dup estimated jaccard = 1
    assert (1, 9002) in got  # near dup


def test_minhash_portable_pipeline_matches_duckdb(spark):
    """The portable (JVM-only) MinHash+LSH pipeline is bit-identical to a
    DuckDB recomputation of the same SQL definition — the oracle property
    the driver gate relies on."""
    import duckdb

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    got = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 6))
        for r in textops.minhash_portable_pairs(
            d, n_hashes=8, bands=4, threshold=0.25
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet') LIMIT 60"
    )
    mins = ", ".join(f"min(md5('s{i}:' || s)) AS h{i}" for i in range(8))
    bandsel = " UNION ALL ".join(
        f"SELECT doc_id, {t} AS band, h{2*t} || '|' || h{2*t+1} AS bucket FROM sig"
        for t in range(4)
    )
    matches = " + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(8))
    oracle = con.sql(f"""
        WITH words AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, s FROM words, unnest(
                [array_to_string(ws[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(ws) - 2, 1) + 1)]) AS t(s)
        ), sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
        banded AS ({bandsel}),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b, ({matches}) / 8.0 AS est_jaccard
        FROM cand JOIN sig a ON a.doc_id = doc_a JOIN sig b ON b.doc_id = doc_b
        WHERE ({matches}) / 8.0 >= 0.25
    """).fetchall()
    assert got == {(a, b, round(j, 6)) for a, b, j in oracle}
    assert len(got) > 0


def test_simhash_properties(docs):
    sh = {r.doc_id: r.simhash for r in textops.simhash64(docs).collect()}
    assert sh[0] == sh[9001]  # identical text -> identical simhash
    # near-dup differs in few bits
    ham = bin((sh[1] ^ sh[9002]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 12
    pairs = textops.simhash_near_pairs(docs, max_hamming=12).collect()
    assert any((r.doc_a, r.doc_b) == (0, 9001) for r in pairs)


def test_ngram_jaccard_pairs(docs, monkeypatch, gate_log):
    # low threshold so the 'dup' bucket pair (different base texts) appears
    pairs = textops.ngram_jaccard_pairs(docs, bucket_col="source", min_jaccard=1e-9)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert all(a < b for (a, b) in got)
    # verify against a direct python recomputation of the planted pair
    texts = {r.doc_id: r.text for r in docs.collect()}
    sa = set(texts[9001].lower().split())
    sb = set(texts[9002].lower().split())
    expect = len(sa & sb) / len(sa | sb)
    assert expect > 0  # same corpus vocabulary -> must share tokens
    assert (9001, 9002) in got  # the only two docs sharing bucket 'dup'
    assert abs(got[(9001, 9002)] - expect) < 1e-9
    # inverted index == all-pairs formulation at any positive threshold
    brute = {}
    rows = docs.select("doc_id", "source", "text").collect()
    for i, ra in enumerate(rows):
        for rb in rows[i + 1:]:
            if ra.source != rb.source:
                continue
            a, b = sorted((ra.doc_id, rb.doc_id))
            ta, tb = set(ra.text.lower().split()), set(rb.text.lower().split())
            j = len(ta & tb) / len(ta | tb)
            if j >= 0.3:
                brute[(a, b)] = j
    # this corpus passes the dense gates: check the ppjoin path too
    for dense in (True, False):
        got3 = _jaccard(monkeypatch, gate_log, dense, docs, "source", 0.3)
        assert got3.keys() == brute.keys()
        for k in brute:
            assert abs(got3[k] - brute[k]) < 1e-9


def test_simhash_block_recall_guarantee(spark):
    """4 x 16-bit block tables are EXACT for hamming <= 3 (pigeonhole):
    near_pairs at max_hamming=3 equals the brute-force pair set."""
    d = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    # plant near-identical docs (single-word edits -> tiny hamming)
    base = d.collect()[0].text
    extra = pd.DataFrame(
        [
            dict(doc_id=8000 + i, text=t, lang="en", source="plant", n_chars=len(t))
            for i, t in enumerate(
                [base, base + " zz", base.replace(base.split()[0], "qq", 1)]
            )
        ]
    )
    docs = d.unionByName(spark.createDataFrame(extra))
    sh = {r.doc_id: r.simhash for r in textops.simhash64(docs).collect()}
    ids = sorted(sh)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((sh[a] ^ sh[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= 3
    }
    assert brute, "fixture must contain at least one planted near pair"
    got = {
        (r.doc_a, r.doc_b)
        for r in textops.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert got == brute


def test_ngram_jaccard_skewed_bucket(spark, monkeypatch, gate_log):
    """One giant bucket must not blow up the inverted-index join (nor the
    dense path): every doc in one source, pair count stays bounded by
    shared-token pairs."""
    rows = [
        dict(doc_id=i, source="hot", text=f"tok{i} tok{i+1} tok{i+2}", lang="en",
             n_chars=20)
        for i in range(200)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    for dense in (True, False):
        out = _jaccard(monkeypatch, gate_log, dense, docs, "source", 0.2)
        # doc i overlaps only docs i±1 (2 shared) and i±2 (1 shared):
        # jaccard 2/4=0.5 and 1/5=0.2 -> 199 + 198 pairs
        assert len(out) == 199 + 198
        assert all(j in (0.5, 0.2) for j in out.values())


def test_ngram_jaccard_hot_cap_truncation_exact(spark, monkeypatch, gate_log):
    """Force the hot-set cap to truncate (a key fan-out cap of 1 makes
    nearly every token 'hot', a hot-token cap of 3 keeps only the 3
    hottest in the literal) on the ppjoin path: the result must STILL
    equal the all-pairs brute force — truncation only relaxes the skew
    bound, never exactness — and the in-plan literal is bounded at the
    cap."""
    rows = [
        dict(
            doc_id=i,
            source="s",
            text=f"shared common words tok{i} tok{i + 1}",
            lang="en",
            n_chars=30,
        )
        for i in range(60)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    # sanity: the uncapped hot set at fan-out 1 is larger than the cap
    monkeypatch.setitem(gates.CAPS, "jaccard_key_fanout", 1)
    base = textops._token_base(docs, "source", True, r"\s+")
    assert len(textops._hot_hashes(base)) > 3
    monkeypatch.setitem(gates.CAPS, "jaccard_hot_tokens", 3)
    assert len(textops._hot_hashes(base)) == 3
    # this tiny vocabulary would take the dense path: close it
    monkeypatch.setitem(gates.CAPS, "jaccard_dense_doc_tokens", 0)
    gate_log.clear()
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in textops.ngram_jaccard_pairs(docs, "source", 0.4).collect()
    }
    assert gate_log.decisions("jaccard_hot_tokens") == [
        ("jaccard_hot_tokens", 3, 3, "capped")
    ]
    brute = {}
    for i in range(60):
        for j in range(i + 1, 60):
            ta = set(rows[i]["text"].split())
            tb = set(rows[j]["text"].split())
            jac = len(ta & tb) / len(ta | tb)
            if jac >= 0.4:
                brute[(i, j)] = jac
    assert got.keys() == brute.keys() and brute
    for k in brute:
        assert abs(got[k] - brute[k]) < 1e-9


def test_quality_and_tokens(docs):
    q = textops.quality_score(docs).collect()
    t = {r.doc_id: r for r in textops.token_stats(docs).collect()}
    for r in q:
        assert 0 < r.distinct_ratio <= 1
        assert 0 <= r.stop_ratio <= 1
        assert r.n_tokens == t[r.doc_id].ws_tokens
    l = textops.lang_id(docs).collect()
    assert all(r.predicted in ("en", "es", "fr", "de") for r in l)


# ---------------------------------------------------------- similarity --


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def brute_topk(emb_pdf, qids, k):
    vecs = {r.vec_id: np.asarray(r.embedding, dtype="f8") for r in emb_pdf.itertuples(index=False)}
    out = {}
    for q in qids:
        qv = vecs[q]
        scored = []
        for vid, v in vecs.items():
            if vid == q:
                continue
            cos = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            scored.append((-cos, vid))
        scored.sort()
        out[q] = [vid for _, vid in scored[:k]]
    return out


def test_cosine_topk_exact(emb):
    pdf = emb.toPandas()
    qids = [0, 1, 2]
    q = emb.filter(F.col("vec_id").isin(qids))
    got = similarity.cosine_topk(emb, q, k=5).toPandas()
    expect = brute_topk(pdf, qids, 5)
    for qid in qids:
        rows = got[got.query_id == qid].sort_values("rank")
        assert rows.neighbor_id.tolist() == expect[qid]


def test_lsh_topk_recall(emb):
    """LSH with multiprobe must reach >= 60% recall@5 vs brute force on
    this corpus (approximate by design; recall asserted, not exactness)."""
    pdf = emb.toPandas()
    qids = list(range(8))
    q = emb.filter(F.col("vec_id").isin(qids))
    got = similarity.lsh_topk(emb, q, k=5, bits=4, tables=8, multiprobe=1).toPandas()
    expect = brute_topk(pdf, qids, 5)
    hits = tot = 0
    for qid in qids:
        approx = set(got[got.query_id == qid].neighbor_id.tolist())
        truth = set(expect[qid])
        hits += len(approx & truth)
        tot += len(truth)
    assert hits / tot >= 0.6, f"recall {hits}/{tot}"


def test_ivf_topk_recall(emb):
    """IVF (16 lists, nprobe=4) must reach >= 60% recall@5 vs brute force;
    every emitted cosine verifies against numpy."""
    pdf = emb.toPandas()
    qids = list(range(8))
    q = emb.filter(F.col("vec_id").isin(qids))
    # uniform random embeddings are IVF's worst case (no cluster structure)
    # -> deep probing here; real clustered embeddings use nprobe << lists
    got = similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=12).toPandas()
    expect = brute_topk(pdf, qids, 5)
    hits = tot = 0
    for qid in qids:
        approx = set(got[got.query_id == qid].neighbor_id.tolist())
        hits += len(approx & set(expect[qid]))
        tot += 5
    assert hits / tot >= 0.6, f"recall {hits}/{tot}"
    vecs = {r.vec_id: np.asarray(r.embedding, dtype="f8") for r in emb.collect()}
    r = got.iloc[0]
    a, b = vecs[r.query_id], vecs[r.neighbor_id]
    assert abs(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))) - r.cosine) < 1e-9


def test_lsh_near_dup_pairs(emb):
    """Bucketed near-dup path: planted exact dups are always found (equal
    vectors share every bucket), and every emitted pair verifies >= thr."""
    pdf = emb.toPandas()
    planted = pdf.head(3).copy()
    planted["vec_id"] = [9101, 9102, 9103]
    docs = emb.unionByName(emb.sparkSession.createDataFrame(planted))
    out = similarity.lsh_near_dup_pairs(docs, threshold=0.999).toPandas()
    got = {(r.id_a, r.id_b) for r in out.itertuples(index=False)}
    for orig, dup in zip(pdf.head(3).vec_id.tolist(), [9101, 9102, 9103]):
        assert (min(orig, dup), max(orig, dup)) in got
    vecs = {r.vec_id: np.asarray(r.embedding, dtype="f8") for r in docs.collect()}
    for r in out.itertuples(index=False):
        a, b = vecs[r.id_a], vecs[r.id_b]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(cos - r.cosine) < 1e-9 and cos >= 0.999
        assert r.id_a < r.id_b


def test_pairwise_near_dups_blocked(emb):
    out = similarity.pairwise_near_dups(emb, threshold=0.4, block_col="label")
    pdf = out.toPandas()
    assert (pdf.id_a < pdf.id_b).all()
    # verify one pair against numpy
    if len(pdf):
        r = pdf.iloc[0]
        vecs = {v.vec_id: np.asarray(v.embedding, dtype="f8") for v in emb.collect()}
        a, b = vecs[r.id_a], vecs[r.id_b]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(cos - r.cosine) < 1e-9
        assert cos >= 0.4


def test_prefix_filter_bounds_hot_tokens(spark):
    """Stopword-dense corpus: a token present in EVERY doc must not land in
    every doc's prefix (that would rebuild the quadratic hot-key fan-out).
    With the rarest-first (ascending document frequency) global order the
    stopwords sort last in every doc, so they (almost) never enter the
    index — and the result set is still exactly the all-pairs answer."""
    import random

    rng = random.Random(7)
    stop = "the of and to in is was for on that"  # 10 stopwords, every doc
    rows = []
    for i in range(300):
        uniq = " ".join(f"w{i}_{j}" for j in range(rng.randint(8, 14)))
        rows.append(
            dict(doc_id=i, source="web", text=f"{stop} {uniq}", lang="en",
                 n_chars=60)
        )
    # planted near-dup pair: same uniq tail
    rows.append(dict(doc_id=9000, source="web",
                     text=rows[0]["text"] + " tailword", lang="en", n_chars=61))
    docs = spark.createDataFrame(pd.DataFrame(rows))
    t = 0.7
    base = textops._token_base(docs, "source", True, r"\s+")
    full_rows = base.select(F.explode("hs")).count()
    hot = textops._hot_hashes(base)
    assert len(hot) == 10  # exactly the 10 planted stopwords exceed df=256
    idx = textops._prefix_index(base, t, hot=hot)
    idx_rows = idx.count()
    # prefix fraction ~ (1 - t) + 1 token; give slack but require a real cut
    assert idx_rows < 0.55 * full_rows, (idx_rows, full_rows)
    # hot-token fan-out: a universal stopword sorts last everywhere, so it
    # is indexed (almost) nowhere — each doc's prefix is filled by its
    # unique df=1 tokens first
    hot_fanout = (
        idx.filter(F.col("h").isin(*[int(h) for h in hot]))
        .groupBy("h")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hot_fanout is None or hot_fanout <= 3, hot_fanout
    # exact parity with brute force at this threshold
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in textops.ngram_jaccard_pairs(docs, "source", t).collect()
    }
    texts = {r["doc_id"]: set(r["text"].lower().split()) for r in rows}
    ids = sorted(texts)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(texts[a] & texts[b]) / len(texts[a] | texts[b])
            if j >= t:
                brute[(a, b)] = j
    assert (0, 9000) in brute  # fixture sanity: planted pair survives t
    assert got.keys() == brute.keys()
    for k in brute:
        assert abs(got[k] - brute[k]) < 1e-9


def test_adaptive_bits_linear_candidates(spark):
    """bits=None scales the SRP hash width with the corpus: growing N 10x
    grows the LSH candidate-pair count ~linearly (fixed bits would be
    ~100x / quadratic)."""
    assert similarity.adaptive_bits(500) == 4
    assert similarity.adaptive_bits(5000) == 8
    assert similarity.adaptive_bits(5_000_000) == 18
    assert similarity.adaptive_bits(10) == 4  # floor

    rng = np.random.default_rng(11)

    def corpus(n):
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype="int64"),
                "embedding": list(rng.standard_normal((n, 64)).astype("f8")),
            }
        )
        return spark.createDataFrame(pdf)

    small, big = corpus(300), corpus(3000)
    c_small = similarity.lsh_candidate_pairs(small, bits=None, tables=4).count()
    c_big = similarity.lsh_candidate_pairs(big, bits=None, tables=4).count()
    assert c_small > 0 and c_big > 0
    growth = c_big / c_small
    # linear would be ~10x (modulo bucket-occupancy variance); quadratic
    # (fixed bits) would be ~100x.  adaptive_bits(300)=4, adaptive_bits(3000)=7
    assert growth < 25, growth
    # and fixed bits IS quadratic on the same corpora — the contrast
    f_small = similarity.lsh_candidate_pairs(small, bits=4, tables=4).count()
    f_big = similarity.lsh_candidate_pairs(big, bits=4, tables=4).count()
    assert f_big / f_small > 40, f_big / f_small


def test_lang_id_ngram_accuracy(spark):
    """Char-trigram naive-Bayes LID: train profiles on a labeled
    multilingual fixture, classify held-out sentences from the same
    languages — accuracy must be >= 0.9 (the letter-frequency toy scores
    near chance on this fixture)."""
    corpus = {
        "en": [
            "the quick brown fox jumps over the lazy dog near the river bank",
            "she sells sea shells by the sea shore every summer morning",
            "a journey of a thousand miles begins with a single step forward",
            "it was the best of times and it was the worst of times indeed",
            "all the world is a stage and the people merely players upon it",
            "to be or not to be that is the question we must answer today",
            "the rain in spain falls mainly on the plain during the spring",
            "every good boy deserves fudge and every girl deserves the same",
            "there is nothing either good or bad but thinking makes it so",
            "we hold these truths to be self evident that all are created equal",
            "ask not what your country can do for you ask what you can do",
            "the only thing we have to fear is fear itself said the president",
            "in the beginning there was the word and the word was with light",
        ],
        "es": [
            "el rapido zorro marron salta sobre el perro perezoso junto al rio",
            "ella vende conchas de mar en la orilla todas las mananas de verano",
            "un viaje de mil millas comienza con un solo paso hacia adelante",
            "eran los mejores tiempos y eran los peores tiempos de verdad",
            "todo el mundo es un escenario y las personas son actores en el",
            "ser o no ser esa es la pregunta que debemos responder hoy mismo",
            "la lluvia en espana cae principalmente en la llanura en primavera",
            "cada buen chico merece dulces y cada chica merece lo mismo tambien",
            "no hay nada bueno ni malo pero el pensamiento lo hace asi siempre",
            "sostenemos estas verdades como evidentes que todos son iguales",
            "no preguntes que puede hacer tu pais por ti sino que puedes hacer tu",
            "lo unico que debemos temer es el miedo mismo dijo el presidente",
            "en el principio existia la palabra y la palabra estaba con la luz",
        ],
        "fr": [
            "le rapide renard brun saute par dessus le chien paresseux pres de la riviere",
            "elle vend des coquillages au bord de la mer chaque matin d ete",
            "un voyage de mille lieues commence par un seul pas en avant",
            "c etait le meilleur des temps et c etait le pire des temps vraiment",
            "le monde entier est une scene et les gens sont des acteurs dessus",
            "etre ou ne pas etre telle est la question que nous devons poser",
            "la pluie en espagne tombe principalement dans la plaine au printemps",
            "chaque bon garcon merite des bonbons et chaque fille aussi bien sur",
            "il n y a rien de bon ni de mauvais mais la pensee le rend ainsi",
            "nous tenons ces verites pour evidentes que tous sont egaux",
            "ne demande pas ce que ton pays peut faire pour toi mais ce que tu peux",
            "la seule chose que nous devons craindre est la peur elle meme",
            "au commencement etait la parole et la parole etait avec la lumiere",
        ],
        "de": [
            "der schnelle braune fuchs springt uber den faulen hund am flussufer",
            "sie verkauft muscheln am meeresufer an jedem sommermorgen gerne",
            "eine reise von tausend meilen beginnt mit einem einzigen schritt",
            "es war die beste zeit und es war die schlechteste zeit wirklich",
            "die ganze welt ist eine buhne und die menschen sind nur spieler",
            "sein oder nicht sein das ist die frage die wir beantworten mussen",
            "der regen in spanien fallt hauptsachlich in der ebene im fruhling",
            "jeder gute junge verdient sussigkeiten und jedes madchen genauso",
            "es gibt nichts gutes oder schlechtes nur das denken macht es so",
            "wir halten diese wahrheiten fur selbstverstandlich dass alle gleich sind",
            "frage nicht was dein land fur dich tun kann sondern was du tun kannst",
            "das einzige was wir furchten mussen ist die furcht selbst sagte er",
            "am anfang war das wort und das wort war bei dem licht von anfang",
        ],
    }
    train_rows, test_rows = [], []
    i = 0
    for lang, sents in corpus.items():
        for j, s in enumerate(sents):
            row = dict(doc_id=i, lang=lang, text=s, source="fix", n_chars=len(s))
            (train_rows if j < 10 else test_rows).append(row)
            i += 1
    train = spark.createDataFrame(pd.DataFrame(train_rows))
    test = spark.createDataFrame(pd.DataFrame(test_rows))
    profiles, floors = textops.lang_ngram_profiles(train, top_k=200)
    out = textops.lang_id_ngram(test, profiles, floors, top_k=200).collect()
    assert len(out) == len(test_rows)
    acc = sum(1 for r in out if r.predicted == r.lang) / len(out)
    assert acc >= 0.9, [(r.doc_id, r.lang, r.predicted) for r in out]
    # self-trained path runs and is deterministic
    a = {r.doc_id: r.predicted for r in textops.lang_id_ngram(train).collect()}
    b = {r.doc_id: r.predicted for r in textops.lang_id_ngram(train).collect()}
    assert a == b
    # self-train on the training set classifies it near-perfectly
    self_acc = sum(
        1
        for r in textops.lang_id_ngram(train).collect()
        if r.predicted == r.lang
    ) / len(train_rows)
    assert self_acc >= 0.9


def test_kmeans_fit_matches_numpy_lloyds(spark):
    """Spherical k-means: assignments + centroids after N iterations equal
    a numpy re-implementation of Lloyd's from the same seeded init, and
    the objective (mean cosine to centroid) is non-decreasing."""
    rng = np.random.default_rng(17)
    # three planted directions + noise
    dirs = rng.standard_normal((3, 64))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    X = np.vstack([
        dirs[i] + 0.15 * rng.standard_normal((40, 64)) for i in range(3)
    ])
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(X), dtype="int64"),
        "embedding": [row.astype("f8").tolist() for row in X],
    })
    df = spark.createDataFrame(pdf)
    k, iters = 4, 4
    cents, assigns, hist = similarity.kmeans_fit(df, k=k, iters=iters)
    got = {r.vec_id: r.cell for r in assigns.collect()}
    # numpy Lloyd's from the same init
    C = similarity._ivf_centroids(k, 64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    for _ in range(iters):
        cell = np.argmax(U @ C.T, axis=1)
        for c in range(k):
            s = U[cell == c].sum(axis=0)
            n = np.linalg.norm(s)
            if n > 0:
                C[c] = s / n
    expect_cells = np.argmax(U @ C.T, axis=1)
    assert np.allclose(cents, C, atol=1e-9)
    mismatch = sum(1 for i, c in got.items() if c != expect_cells[i])
    assert mismatch == 0, f"{mismatch} assignment mismatches"
    # objective is non-decreasing
    assert all(b >= a - 1e-12 for a, b in zip(hist, hist[1:])), hist
    # planted structure respected: with k > true clusters a block may
    # legitimately SPLIT, but no cluster may MIX two planted blocks
    cluster_blocks = {}
    for i, c in got.items():
        cluster_blocks.setdefault(c, set()).add(i // 40)
    assert all(len(bs) == 1 for bs in cluster_blocks.values()), cluster_blocks
    # and the final fit is as tight as the fixture allows: unit signal +
    # 0.15-sigma 64-dim noise (norm ~1.2) caps mean cosine near
    # 1/sqrt(1 + 0.15^2*64) ~ 0.64
    assert hist[-1] >= 0.6, hist


def test_ivf_with_trained_centroids(emb):
    """ivf_topk accepts kmeans_fit centroids; trained quantizer keeps (or
    beats) the seeded quantizer's recall at the same nprobe."""
    q = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    cents, _, _ = similarity.kmeans_fit(emb, k=16, iters=3)
    r_seeded = recall(similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4))
    r_trained = recall(
        similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4, centroids=cents)
    )
    # the claim is "trained quantizer >= seeded at equal nprobe", not an
    # absolute recall (this 200-vector corpus caps both around ~0.45)
    assert r_trained >= r_seeded - 1e-9, (r_trained, r_seeded)
    assert r_trained > 0.3, r_trained


def test_incremental_minhash_equals_batch(spark):
    """The incremental probe (new batch vs stored corpus signatures) finds
    exactly the pairs a full-corpus recompute finds, restricted to pairs
    touching the new batch — without re-shingling the corpus."""
    corpus = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    rows = corpus.collect()
    batch = spark.createDataFrame(pd.DataFrame([
        # dup of a corpus doc, a dup-pair within the batch, a fresh doc
        dict(doc_id=7001, text=rows[3].text, lang="en", source="b", n_chars=1),
        dict(doc_id=7002, text="alpha beta gamma delta epsilon zeta", lang="en",
             source="b", n_chars=1),
        dict(doc_id=7003, text="alpha beta gamma delta epsilon zeta eta", lang="en",
             source="b", n_chars=1),
    ]))
    sigs = textops.minhash_portable_signatures(corpus, 8, 3)
    inc = textops.incremental_minhash_pairs(
        batch, sigs, n_hashes=8, bands=4, threshold=0.25
    ).collect()
    got = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.est_jaccard
           for r in inc}
    # batch oracle: full recompute over corpus + batch
    full = textops.minhash_portable_pairs(
        corpus.unionByName(batch), n_hashes=8, bands=4, threshold=0.25
    ).collect()
    new_ids = {7001, 7002, 7003}
    expect = {(r.doc_a, r.doc_b): r.est_jaccard
              for r in full if {r.doc_a, r.doc_b} & new_ids}
    assert got == expect
    assert (3, 7001) in got and got[(3, 7001)] == 1.0  # corpus dup found
    assert (7002, 7003) in got                         # in-batch dup found
    flags = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.is_new_pair
             for r in inc}
    assert flags[(3, 7001)] is False and flags[(7002, 7003)] is True


def test_contamination_pairs_planted(spark):
    """A test doc containing a verbatim 8-word span from a train doc is
    flagged; topically-similar-but-not-verbatim text is not."""
    train = spark.createDataFrame(pd.DataFrame([
        dict(doc_id=1, text="the quick brown fox jumps over the lazy dog today",
             lang="en", source="tr", n_chars=1),
        dict(doc_id=2, text="completely unrelated training material about spark",
             lang="en", source="tr", n_chars=1),
    ]))
    test = spark.createDataFrame(pd.DataFrame([
        # verbatim 9-word span from doc 1 -> two shared 8-grams
        dict(doc_id=11, text="intro words the quick brown fox jumps over the lazy dog outro",
             lang="en", source="te", n_chars=1),
        # same words, different order -> no shared 8-gram
        dict(doc_id=12, text="dog lazy the over jumps fox brown quick the today",
             lang="en", source="te", n_chars=1),
    ]))
    out = textops.contamination_pairs(train, test, shingle_k=8, min_shared=1).collect()
    got = {(r.test_doc, r.train_doc): r.n_shared for r in out}
    assert (11, 1) in got and got[(11, 1)] >= 2
    assert (12, 1) not in got
    assert all(t == 1 for (_, t) in got)


def test_train_test_split_properties(spark):
    """Deterministic, stable under growth, salt-sensitive, ~frac-sized."""
    import hashlib

    d = spark.read.parquet(f"{SF}/documents.parquet")
    s1 = {r.doc_id: r.is_test for r in textops.train_test_split(d, 0.2).collect()}
    s2 = {r.doc_id: r.is_test for r in textops.train_test_split(d, 0.2).collect()}
    assert s1 == s2  # deterministic
    # python recomputation of the definition
    for i in list(s1)[:20]:
        h = int(hashlib.md5(f"split0:{i}".encode()).hexdigest()[:8], 16)
        assert s1[i] == (h < int(0.2 * (1 << 32)))
    # membership unchanged when the corpus grows (depends on id only)
    sub = {r.doc_id: r.is_test
           for r in textops.train_test_split(d.limit(20), 0.2).collect()}
    assert all(s1[i] == v for i, v in sub.items())
    # a different salt re-splits
    s3 = {r.doc_id: r.is_test
          for r in textops.train_test_split(d, 0.2, salt="split1").collect()}
    assert s1 != s3
    # size ~ frac (binomial slack)
    frac = sum(s1.values()) / len(s1)
    assert 0.1 < frac < 0.35, frac


def test_prefix_filter_parity_sweep(spark, monkeypatch, gate_log):
    """Seeded sweep: random corpora x random thresholds — the prefix-
    filtered join (and the dense path these tiny corpora pass the gates
    for) must equal brute force EXACTLY at every threshold, including
    ceil-boundary thresholds (t*n exactly integral)."""
    import random

    rng = random.Random(23)
    for trial, t in enumerate([0.5, 0.7, 0.75, 1.0 / 3.0, 0.9]):
        rows = []
        vocab = [f"w{j}" for j in range(30)]
        for i in range(60):
            n = rng.randint(3, 12)
            rows.append(
                dict(doc_id=i, source=f"b{i % 2}",
                     text=" ".join(rng.sample(vocab, n)), lang="en", n_chars=n)
            )
        # planted exact dup -> jaccard 1.0 beats every threshold
        rows.append(dict(rows[0], doc_id=100))
        docs = spark.createDataFrame(pd.DataFrame(rows))
        texts = {r["doc_id"]: (r["source"], set(r["text"].split())) for r in rows}
        ids = sorted(texts)
        brute = {}
        for ia, a in enumerate(ids):
            for b in ids[ia + 1:]:
                if texts[a][0] != texts[b][0]:
                    continue
                ta, tb = texts[a][1], texts[b][1]
                j = len(ta & tb) / len(ta | tb)
                if j >= t:
                    brute[(a, b)] = j
        assert brute, f"trial {trial} must be non-vacuous"
        for dense in (True, False):
            got = _jaccard(monkeypatch, gate_log, dense, docs, "source", t)
            assert got.keys() == brute.keys(), f"trial {trial} t={t} dense={dense}"
            for k in brute:
                assert abs(got[k] - brute[k]) < 1e-9


def test_pii_scrub(spark):
    """Redaction + counts on planted PII, incl. tricky shapes: multiple
    matches per doc, PII-free docs, an IP that must not be phone-matched."""
    import pandas as pd

    from geotrellis_landsat_emr_demo_spark.operators import textops

    rows = [
        dict(doc_id=0, text="mail a@b.io and c.d+x@e-f.org today"),
        dict(doc_id=1, text="server 10.0.255.1 then call 555-123-4567"),
        dict(doc_id=2, text="clean text with no pii at all"),
        dict(doc_id=3, text="dotted phone 555.123.4567 and spaced 555 123 4567"),
        dict(doc_id=4, text="ip 192.168.1.254 twice 192.168.1.254"),
    ]
    out = {
        r.doc_id: r
        for r in textops.pii_scrub(
            spark.createDataFrame(pd.DataFrame(rows))
        ).collect()
    }
    assert out[0].n_email == 2 and out[0].text == "mail <EMAIL> and <EMAIL> today"
    assert (out[1].n_ipv4, out[1].n_phone) == (1, 1)
    assert out[1].text == "server <IP> then call <PHONE>"
    assert out[2].text == rows[2]["text"] and not out[2].has_pii
    assert out[3].n_phone == 2 and out[3].n_ipv4 == 0
    assert out[4].n_ipv4 == 2 and out[4].text == "ip <IP> twice <IP>"
    assert all(out[i].has_pii for i in (0, 1, 3, 4))
    # id_col is parameterized (frames without a doc_id column work)
    custom = textops.pii_scrub(
        spark.createDataFrame(
            pd.DataFrame([dict(uid="u1", body="mail a@b.io now")])
        ),
        text_col="body",
        id_col="uid",
    ).collect()
    assert custom[0].uid == "u1" and custom[0].body == "mail <EMAIL> now"


def test_paragraph_dedup(spark):
    """Global first-wins paragraph dedup: cross-doc and within-doc copies
    drop, order is preserved, empties are filtered, a fully-deduped doc
    keeps an empty-text row."""
    import pandas as pd

    from geotrellis_landsat_emr_demo_spark.operators import textops

    rows = [
        dict(doc_id=0, text="A\nB\nC"),
        dict(doc_id=1, text="B\nD"),      # B seen in doc 0 -> dropped
        dict(doc_id=2, text="A\nA"),      # both copies lose to doc 0
        dict(doc_id=3, text="E\nE"),      # within-doc: first E wins
        dict(doc_id=4, text="F\n\nG"),    # empty paragraph filtered
        dict(doc_id=5, text="\n\n"),      # separator-only: all paras empty
        dict(doc_id=6, text=""),          # fully empty text
    ]
    out = {
        r.doc_id: r
        for r in textops.paragraph_dedup(
            spark.createDataFrame(pd.DataFrame(rows))
        ).collect()
    }
    assert len(out) == len(rows), "no row loss: every input doc has output"
    assert (out[0].text, out[0].n_paras, out[0].n_kept) == ("A\nB\nC", 3, 3)
    assert (out[1].text, out[1].n_paras, out[1].n_kept) == ("D", 2, 1)
    assert (out[2].text, out[2].n_paras, out[2].n_kept) == ("", 2, 0)
    assert (out[3].text, out[3].n_paras, out[3].n_kept) == ("E", 2, 1)
    assert (out[4].text, out[4].n_paras, out[4].n_kept) == ("F\nG", 2, 2)
    # all-empty docs keep an explicit zero row instead of vanishing
    assert (out[5].text, out[5].n_paras, out[5].n_kept) == ("", 0, 0)
    assert (out[6].text, out[6].n_paras, out[6].n_kept) == ("", 0, 0)


def test_stratified_sample(spark):
    """Per-group sampling: rates land near targets, membership is
    deterministic and stable under corpus growth, fraction 1.0 keeps
    everything, 0.0 (default for unmapped groups) drops everything."""
    import pandas as pd

    from geotrellis_landsat_emr_demo_spark.operators import textops

    rows = [
        dict(doc_id=i, lang=("en" if i % 3 else "fr"), text="x")
        for i in range(900)
    ] + [dict(doc_id=10_000 + i, lang="xx", text="x") for i in range(50)]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    out = textops.stratified_sample(docs, {"en": 0.5, "fr": 1.0}).toPandas()
    by = out.groupby("lang").size().to_dict()
    assert by.get("fr") == 300          # frac 1.0: every fr doc kept
    assert "xx" not in by               # default_frac 0.0 drops unmapped
    assert 240 <= by["en"] <= 360       # ~50% of 600, md5-uniform
    # determinism + growth stability: same ids keep membership when the
    # corpus doubles
    kept1 = set(out[out.lang == "en"].doc_id)
    bigger = spark.createDataFrame(
        pd.DataFrame(rows + [dict(doc_id=20_000 + i, lang="en", text="x")
                             for i in range(500)])
    )
    out2 = textops.stratified_sample(bigger, {"en": 0.5, "fr": 1.0}).toPandas()
    kept2 = set(out2[(out2.lang == "en") & (out2.doc_id < 10_000)].doc_id)
    assert kept1 == kept2


def test_paragraph_dedup_random_oracle(spark):
    """Randomized corpora vs a python oracle: global first-wins by
    (doc_id, pos), order preserved, counts exact."""
    import random

    import pandas as pd

    from geotrellis_landsat_emr_demo_spark.operators import textops

    rng = random.Random(77)
    vocab = [f"p{j}" for j in range(12)]  # small vocab -> many collisions
    for trial in range(3):
        rows = [
            dict(
                doc_id=i,
                text="\n".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 6))
                ),
            )
            for i in range(40)
        ]
        got = {
            r.doc_id: (r.text, r.n_paras, r.n_kept)
            for r in textops.paragraph_dedup(
                spark.createDataFrame(pd.DataFrame(rows))
            ).collect()
        }
        seen, expect = set(), {}
        for r in rows:  # rows are doc_id-ascending: oracle order == global
            kept = []
            paras = [p for p in r["text"].split("\n") if p]
            for p in paras:
                if p not in seen:
                    seen.add(p)
                    kept.append(p)
            expect[r["doc_id"]] = ("\n".join(kept), len(paras), len(kept))
        assert got == expect, f"trial {trial}"
        # every distinct paragraph survives exactly once, corpus-wide
        survivors = [p for t, _, _ in got.values() for p in t.split("\n") if p]
        assert sorted(survivors) == sorted(seen)


def test_ivf_trained_recall_on_clustered_corpus(spark):
    """IVF recall is a property of the CORPUS GEOMETRY, not the plan: on
    the isotropic driver fixture trained==seeded==~nprobe/nlist by
    construction (BENCH/BASELINE.md ivf analysis); on a clustered corpus
    the trained quantizer must clear 0.8 recall@10 at nprobe=2/nlist=16
    (~13% candidate fraction) and beat the seeded one by a wide margin."""
    from geotrellis_landsat_emr_demo_spark import fixtures

    pdf = fixtures.embeddings_clustered_pdf()
    emb = spark.createDataFrame(pdf)
    q = emb.filter(F.col("vec_id") < 32)
    truth = {}
    for r in similarity.cosine_topk(emb, q, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(got.get(qq, set()) & truth[qq]) / len(truth[qq]) for qq in truth
        ) / len(truth)

    cents, _, _ = similarity.kmeans_fit(emb, k=16, iters=5)
    r_trained = recall(
        similarity.ivf_topk(emb, q, k=10, n_centroids=16, nprobe=2, centroids=cents)
    )
    r_seeded = recall(similarity.ivf_topk(emb, q, k=10, n_centroids=16, nprobe=2))
    assert r_trained >= 0.8, (r_trained, r_seeded)
    assert r_trained - r_seeded >= 0.25, (r_trained, r_seeded)


def test_simhash_table_matches_catalyst(spark, docs):
    """r8: the vectorized _simhash_table must be bit-identical to the
    Catalyst 64-vote formulation (simhash_blocks(_simhash_full(...))) —
    signatures AND all block columns — on real corpus data plus planted
    unicode/whitespace edge cases."""
    extra = pd.DataFrame(
        [
            dict(doc_id=9901, text="héllo wörld ünïcode ñ", lang="xx",
                 source="u", n_chars=21),
            dict(doc_id=9902, text="  padded   whitespace\ttabs  ", lang="xx",
                 source="u", n_chars=28),
            dict(doc_id=9903, text="", lang="xx", source="u", n_chars=0),
            dict(doc_id=9904, text="ONE", lang="xx", source="u", n_chars=3),
        ]
    )
    d = docs.unionByName(spark.createDataFrame(extra))
    want = {
        r.doc_id: (r.simhash, r.block0, r.block1, r.block2, r.block3)
        for r in textops.simhash_blocks(textops._simhash_full(d), 4)
        .select("doc_id", "simhash", "block0", "block1", "block2", "block3")
        .collect()
    }
    got = {
        r.doc_id: (r.simhash, r.block0, r.block1, r.block2, r.block3)
        for r in textops._simhash_table(d, 4).collect()
    }
    assert got == want
    # sf0.1 corpus, full scale tier
    d1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    want1 = {
        r.doc_id: (r.simhash, r.block0, r.block1, r.block2, r.block3)
        for r in textops.simhash_blocks(textops._simhash_full(d1), 4)
        .select("doc_id", "simhash", "block0", "block1", "block2", "block3")
        .collect()
    }
    got1 = {
        r.doc_id: (r.simhash, r.block0, r.block1, r.block2, r.block3)
        for r in textops._simhash_table(d1, 4).collect()
    }
    assert got1 == want1


def test_minhash_portable_signatures_match_expr(spark, docs):
    """r8: the vectorized minhash signature pass must be bit-identical to
    the JVM explode + md5-min formulation (and thus the oracle twin)."""
    extra = pd.DataFrame(
        [
            dict(doc_id=9905, text="tök ünï gräm shingles über alles", lang="xx",
                 source="u", n_chars=30),
            dict(doc_id=9906, text="one", lang="xx", source="u", n_chars=3),
        ]
    )
    for d in (docs.unionByName(spark.createDataFrame(extra)),
              spark.read.parquet("/root/testdata/sf0.1/documents.parquet")):
        want = {tuple(r) for r in textops.minhash_signatures_expr(d, 8).collect()}
        got = {tuple(r) for r in textops.minhash_portable_signatures(d, 8).collect()}
        assert got == want and len(got) > 0


# caps that force ngram_jaccard_pairs onto each path, and the decision
# that proves the path ran
_OPEN = 1 << 20
JACCARD_PATHS = {
    True: (
        {
            "jaccard_dense_doc_tokens": _OPEN,
            "jaccard_dense_vocab": _OPEN,
            "jaccard_dense_bucket_docs": _OPEN,
        },
        ("jaccard_dense_bucket_docs", "fits"),
    ),
    False: ({"jaccard_dense_doc_tokens": 0}, ("jaccard_dense_doc_tokens", "over")),
}


def _jaccard(monkeypatch, gate_log, dense, *args, **kwargs):
    """ngram_jaccard_pairs forced onto the dense (True) or ppjoin (False)
    path, as {(doc_a, doc_b): jaccard}."""
    caps, (gate, branch) = JACCARD_PATHS[dense]
    gate_log.clear()
    with monkeypatch.context() as mp:
        for name, cap in caps.items():
            mp.setitem(gates.CAPS, name, cap)
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in textops.ngram_jaccard_pairs(*args, **kwargs).collect()
        }
    assert gate_log.branches(gate) == {branch}, (dense, gate_log.decisions(gate))
    # only the ppjoin path reads the hot-token set
    assert bool(gate_log.decisions("jaccard_hot_tokens")) != dense
    return got


def test_ngram_jaccard_dense_path_matches_ppjoin(spark, monkeypatch, gate_log):
    """r8: the dense-bitset fast path must equal the ppjoin inverted-index
    path row-for-row (ids and jaccard doubles bitwise) — rounded and
    unrounded variants."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for kwargs in (
        dict(min_jaccard=0.7, round_to=3),
        dict(min_jaccard=0.5, round_to=None),
    ):
        dense = _jaccard(monkeypatch, gate_log, True, d, "source", **kwargs)
        pp = _jaccard(monkeypatch, gate_log, False, d, "source", **kwargs)
        assert dense.keys() == pp.keys() and len(dense) > 0
        for k in pp:
            assert dense[k] == pp[k], (k, dense[k].hex(), pp[k].hex())


def test_ngram_jaccard_dense_half_up_midpoint(spark, monkeypatch, gate_log):
    """13/16 = 0.8125 is exactly representable: Spark's HALF_UP rounds it
    to 0.813 where numpy's half-even gives 0.812 — the dense path must
    take the HALF_UP table."""
    a_toks = [f"t{i}" for i in range(16)]
    b_toks = a_toks[:13]
    pdf = pd.DataFrame(
        [
            dict(doc_id=1, text=" ".join(a_toks), lang="en", source="s",
                 n_chars=0),
            dict(doc_id=2, text=" ".join(b_toks), lang="en", source="s",
                 n_chars=0),
        ]
    )
    d = spark.createDataFrame(pdf)
    for dense in (True, False):
        got = _jaccard(
            monkeypatch, gate_log, dense, d, "source", min_jaccard=0.5, round_to=3
        )
        assert got == {(1, 2): 0.813}, (dense, got)


def _lang_id_ngram_ref(docs, gram_n=3, top_k=300, max_chars=400, round_to=4):
    """Pre-r8 crossJoin+aggregate formulation of lang_id_ngram, verbatim
    (including the pre-r8 explode-based profile training)."""
    from pyspark.sql import Window

    grams_t = docs.select(
        F.col("lang").alias("lang"),
        F.explode(textops._char_grams(F.col("text"), gram_n, max_chars)).alias("gram"),
    )
    cnt = grams_t.groupBy("lang", "gram").agg(F.count("*").alias("cnt"))
    tot = cnt.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
    profiles = (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .join(tot, "lang")
        .select(
            "lang", "gram",
            F.log((F.col("cnt") + 1) / (F.col("tot") + top_k + 1)).alias("logp"),
        )
    )
    floors = tot.select("lang", F.log(1.0 / (F.col("tot") + top_k + 1)).alias("floor"))
    par = docs.sparkSession.sparkContext.defaultParallelism
    grams = docs.repartition(par).select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.explode(textops._char_grams(F.col("text"), gram_n, max_chars)).alias("gram"),
    )
    scored = (
        grams.crossJoin(F.broadcast(floors))
        .join(F.broadcast(profiles), ["lang", "gram"], "left")
        .groupBy("doc_id", "lang_true", "lang")
        .agg(F.round(F.sum(F.coalesce("logp", "floor")), round_to).alias("score"))
    )
    best = scored.groupBy("doc_id", F.col("lang_true")).agg(
        F.min_by("lang", F.struct((-F.col("score")).alias("ns"), F.col("lang"))).alias(
            "predicted"
        )
    )
    return best.select("doc_id", F.col("lang_true").alias("lang"), "predicted")


def test_lang_id_ngram_matches_crossjoin_formulation(spark):
    """r8: the collected-model scoring pass must reproduce the
    crossJoin+aggregate formulation exactly on both small corpora (the
    round_to grid absorbs float-sum reordering by design)."""
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        got = {
            (r.doc_id): (r.lang, r.predicted)
            for r in textops.lang_id_ngram(d).collect()
        }
        want = {
            (r.doc_id): (r.lang, r.predicted)
            for r in _lang_id_ngram_ref(d).collect()
        }
        assert got == want and len(got) > 0
