"""Seeded input generators for the pipeline benchmark.

Pure Python (``random.Random(seed)``): no Spark, no clock, no hashing
of unordered containers. The same ``(seed, size)`` always yields the
same bytes, so ``digest()`` of every generated artifact is stable
across processes and machines; ``test_gen.py`` pins that.

Generated shapes follow FIXTURES.md (the reference's field accesses):

- ``fiadmin_record`` — one FI-Admin landing record (FIXTURES §1.1):
  ~70 fields at realistic sparsity, multilingual ti/ab, 1-8 authors,
  DECS-coded descriptors, call numbers, electronic addresses.
- ``fiadmin_dims`` — tabpais, DECS, title_current, instanceEcollection,
  DBinstanceEcollection, 3 temas collections, brisa_ai (FIXTURES §2).
- ``tmgl_dump`` — iAHx Solr-XML dump files (<add><doc><field>) with
  non-tmgl docs and in-file duplicate ids (FIXTURES §1.2).
- ``tmgl_dims`` — who_region (~190 countries, 6 regions) and tmgl_areas.
- ``HarvestStub`` — an in-process seeded FI-Admin API page fetcher.
- ``corpus_docs`` — a documents table with exact and near-duplicate
  injection.
"""

from __future__ import annotations

import hashlib
import json
import random
from xml.sax.saxutils import escape

# ---------------------------------------------------------------------------
# vocabularies

_REGIONS = ("afro", "amro", "searo", "euro", "emro", "wpro")
_SYL = ("ba", "ko", "ri", "ta", "ne", "lu", "mi", "sa", "do", "ve", "qua", "zen",
        "pi", "ar", "ol", "gu", "fe", "ti", "mo", "ca")
_WORDS = {
    "pt": ("saúde", "estudo", "pacientes", "tratamento", "análise", "clínico",
           "resultados", "população", "avaliação", "doença", "atenção", "primária",
           "hospital", "crianças", "mulheres", "risco", "fatores", "prevalência"),
    "es": ("salud", "estudio", "pacientes", "tratamiento", "análisis", "clínico",
           "resultados", "población", "evaluación", "enfermedad", "atención",
           "niños", "mujeres", "riesgo", "factores", "prevalencia", "región"),
    "en": ("health", "study", "patients", "treatment", "analysis", "clinical",
           "results", "population", "evaluation", "disease", "care", "primary",
           "hospital", "children", "women", "risk", "factors", "prevalence"),
    "fr": ("santé", "étude", "patients", "traitement", "analyse", "clinique",
           "résultats", "population", "évaluation", "maladie", "soins", "risque"),
}
_LANGS = ("pt", "es", "en", "fr")
_TREATMENT = ("as", "am", "amc", "m", "mc", "ms", "c", "t")
_LIT_TYPE = ("S", "M", "Mc", "Mcp", "N", "Nc", "T", "Sc", "Scp", "Sp", "Mp", "Msp", "Np")
_DBS = ("LILACS", "MEDLINE", "BDENF", "BBO", "IBECS", "CUMED", "BINACIS",
        "COLNAL", "LIPECS", "MOSAICO", "SES-SP", "HANSENIASE", "INDEXPSI", "CVSP")
_MEDIA_EXT = ("mp4", "mp3", "pdf", "html", "avi", "wav")


def _word(rng: random.Random, lo: int = 2, hi: int = 4) -> str:
    return "".join(rng.choice(_SYL) for _ in range(rng.randint(lo, hi)))


def _sentence(rng: random.Random, lang: str, lo: int, hi: int) -> str:
    words = _WORDS[lang]
    return " ".join(rng.choice(words) for _ in range(rng.randint(lo, hi)))


def digest(parts) -> str:
    """sha256 over an iterable of str/bytes, in order."""
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode("utf-8") if isinstance(p, str) else p)
        h.update(b"\x00")
    return h.hexdigest()


def jsonl(rows) -> str:
    """Canonical JSON-lines text (sorted keys, no ASCII escaping)."""
    return "".join(json.dumps(r, sort_keys=True, ensure_ascii=False) + "\n" for r in rows)


# ---------------------------------------------------------------------------
# FI-Admin dimensions


def _countries(seed: int, n: int = 190) -> list[dict]:
    """The shared country universe: per-language names, a 2-letter ISO
    code (unique), and the WHO region."""
    rng = random.Random(seed * 7919 + 1)
    out, seen_iso, seen_name = [], set(), set()
    while len(out) < n:
        base = _word(rng, 2, 4)
        if base in seen_name:
            continue
        iso = (base[0] + rng.choice("abcdefghijklmnopqrstuvwxyz")).upper()
        if iso in seen_iso:
            continue
        seen_name.add(base)
        seen_iso.add(iso)
        out.append({
            "en": base.capitalize() + "land",
            "pt": base.capitalize() + "lândia",
            "es": base.capitalize() + "landia",
            "fr": (base.capitalize() + "lande") if rng.random() < 0.8 else None,
            "iso": iso,
            "region": _REGIONS[len(out) % len(_REGIONS)],
        })
    return out


def fiadmin_dims(seed: int, n_decs: int = 1500, n_titles: int = 400) -> dict[str, list[dict]]:
    """Dimension rows, keyed by table name."""
    rng = random.Random(seed * 104729 + 2)
    countries = _countries(seed)
    tabpais = [
        {"pt": c["pt"], "en": c["en"], "es": c["es"], "fr": c["fr"],
         "pais_2": c["iso"], "sinonimo": [c["iso"], c["iso"].lower() + "x", c["en"].upper()]}
        for c in countries
    ]
    decs = []
    for i in range(n_decs):
        en = " ".join(_word(rng) for _ in range(rng.randint(1, 3))).capitalize()
        decs.append({
            "mfn": f"{i + 1:06d}",
            "descritor_ingles": en,
            "descritor_portugues": en + "ção" if rng.random() < 0.9 else None,
            "descritor_espanhol": en + "ción" if rng.random() < 0.9 else None,
            "descritor_frances": en + "tion" if rng.random() < 0.5 else None,
            "descritor_espanhol_espanha": None,
            "versao_alternativa_ingles": None,
            "versao_alternativa_espanhol": None,
            "versao_alternativa_portugues": None,
            "sinonimos_ingles": [en + " syn"] if rng.random() < 0.3 else None,
            "sinonimos_espanhol": None,
            "sinonimos_portugues": None,
            "sinonimos_espanha": None,
            "sinonimos_frances": None,
        })
    # qualifier rows (descriptors starting with '/')
    for q in ("diagnosis", "therapy", "epidemiology", "prevention & control"):
        decs.append({**decs[0], "mfn": f"9{len(decs):05d}", "descritor_ingles": "/" + q,
                     "descritor_portugues": "/" + q, "descritor_espanhol": "/" + q,
                     "descritor_frances": None, "sinonimos_ingles": None})
    titles = []
    for i in range(n_titles):
        name = " ".join(_word(rng) for _ in range(rng.randint(2, 4))).title()
        titles.append({
            "issn": f"{1000 + i:04d}-{rng.randint(1000, 9999):04d}",
            "shortened_title": "Rev " + name[:12],
            "title": "Revista " + name + ("^sub" if rng.random() < 0.1 else ""),
            "medline_shortened_title": name[:10] if rng.random() < 0.4 else None,
            "parallel_titles": ["Journal " + name] if rng.random() < 0.4 else None,
            "shortened_parallel_titles": ["J " + name[:10]] if rng.random() < 0.2 else None,
            "other_titles": None,
            "country": [rng.choice(countries)["en"]],
        })
    instance_ecollection = [
        {"db": db, "instance": rng.sample(["regional", "brasil", "cvsp", "tmgl", "sus"],
                                          rng.randint(1, 2)),
         "collection": "c",
         "collection_instance": rng.sample(
             ["collection_lilacs", "collection_nursing", "collection_dent", ""],
             rng.randint(1, 2))}
        for db in _DBS
    ]
    db_instance_ecollection = [
        {"database_campo4": db.lower(), "db": [db + "-X"],
         "instance": rng.sample(["regional", "brasil", "cvsp"], 1),
         "collection_instance": [f"col_{db.lower()}:{_word(rng)}", "plain"]}
        for db in _DBS[: len(_DBS) // 2]
    ]
    brisa_ai = [{"ai1": ["Corp " + _word(rng).title()], "ai2": "Org " + _word(rng).title()}
                for _ in range(60)]
    return {
        "tabpais": tabpais,
        "decs": decs,
        "title_current": titles,
        "instance_ecollection": instance_ecollection,
        "db_instance_ecollection": db_instance_ecollection,
        "brisa_ai": brisa_ai,
    }


def temas_rows(seed: int, doc_ids: list[str], share: float = 0.15) -> dict[str, list[dict]]:
    """Three temas collections keyed by output doc id (id_iahx)."""
    rng = random.Random(seed * 31337 + 3)
    out: dict[str, list[dict]] = {}
    for name in ("hans", "sus", "oms"):
        rows = []
        for did in doc_ids:
            if rng.random() >= share:
                continue
            pairs = []
            for _ in range(rng.randint(0, 3)):
                pairs += [f"tag_{rng.choice(['a', 'b', 'c'])}", _word(rng)]
            if rng.random() < 0.05:
                pairs.append("tag_odd")  # odd length: None-padding case
            rows.append({
                "id_iahx": did, "db": rng.choice(_DBS).lower(),
                "instance_iahx": [f"inst_{name}"],
                "collection_iahx": [f"collection_{name}"],
                "tema_subtema": pairs or None,
                "tema": None,
                "projeto": [f"proj_{name}", _word(rng)] if rng.random() < 0.3 else None,
            })
        out[name] = rows
    return out


# ---------------------------------------------------------------------------
# FI-Admin landing records


def _author(rng: random.Random, countries: list[dict], corporate: bool = False) -> dict:
    c = rng.choice(countries)
    country = rng.choice((c["en"], c["pt"], c["es"], c["iso"], c["en"].upper()))
    name = ("Instituto " + _word(rng).title()) if corporate else (
        f"{_word(rng).title()}, {_word(rng, 1, 2).title()}")
    has_af = rng.random() < 0.7
    return {
        "text": name,
        "_1": ("Univ " + _word(rng).title()) if has_af else None,
        "_2": ("Dept " + _word(rng).title()) if has_af and rng.random() < 0.5 else None,
        "_3": None,
        "_p": country if has_af and rng.random() < 0.85 else None,
        "_c": _word(rng).title() if has_af and rng.random() < 0.5 else None,
        "_k": f"0000-000{rng.randint(1, 9)}-{rng.randint(1000, 9999)}" if rng.random() < 0.3 else None,
        "_w": None,
        "_e": f"{_word(rng)}@{_word(rng)}.org" if rng.random() < 0.2 else None,
    }


def _text_entries(rng: random.Random, langs, lo: int, hi: int, dirty: bool = False) -> list[dict]:
    out = []
    for lang in langs:
        t = _sentence(rng, lang, lo, hi)
        if dirty and rng.random() < 0.1:
            t = t.replace(" ", "\r\n", 1) + "\x07"
        out.append({"text": t, "_i": lang if rng.random() < 0.95 else None})
    return out


def _call_number(rng: random.Random) -> dict:
    cn = {"text": f"W{rng.randint(1, 999)}"}
    for sub in rng.sample("abcdt", rng.randint(1, 3)):
        cn["_" + sub] = f"{_word(rng)};" if rng.random() < 0.2 else _word(rng)
    return cn


def _decs_code(rng: random.Random, n_decs: int) -> str:
    code = f"^d{rng.randint(1, n_decs)}"
    if rng.random() < 0.3:
        code += f"^s{rng.randint(1, 40)}"
    return code


def fiadmin_record(rng: random.Random, rid: int, ctx: dict, updated: str) -> dict:
    """One landing record as a sparse JSON-able dict (missing keys are
    absent fields, the schema-on-read document model)."""
    countries, titles, n_decs = ctx["countries"], ctx["titles"], ctx["n_decs"]
    lit = rng.choice(_LIT_TYPE)
    tl = rng.choice(_TREATMENT) if rng.random() < 0.97 else rng.choice(("", None))
    langs = rng.sample(_LANGS, rng.choice((1, 1, 2, 2, 3)))
    r: dict = {
        "id": rid,
        "status": rng.choice((0, 1, 1, 1, -2, -3, -1, 2, 3)) if rng.random() < 0.95 else 1,
        "treatment_level": tl,
        "literature_type": lit,
        "title": _text_entries(rng, langs, 4, 14),
        "text_language": langs,
        "indexed_database": rng.sample(_DBS, rng.randint(1, 3)),
        "updated_time": updated,
        "created_time": f"20{rng.randint(10, 24):02d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T10:00:00",
    }
    year = rng.randint(1985, 2025)
    if rng.random() < 0.85:
        r["publication_date_normalized"] = f"{year}{rng.randint(1, 12):02d}00"
    r["publication_date"] = rng.choice((str(year), f"Jan-Mar {year}", "s.d.", f"{year}"))
    if rng.random() < 0.7:
        r["abstract"] = _text_entries(rng, rng.sample(_LANGS, rng.randint(1, 3)), 25, 90, dirty=True)
        if rng.random() < 0.05:  # two same-language entries (concat case)
            r["abstract"].append(dict(r["abstract"][0]))
    if "en" not in langs and rng.random() < 0.5:
        r["english_translated_title"] = _sentence(rng, "en", 4, 12)
    n_auth = rng.randint(1, 8)
    field = rng.choices(
        ("individual_author", "corporate_author", "individual_author_monographic",
         "corporate_author_monographic", "individual_author_collection"),
        weights=(80, 8, 6, 3, 3))[0]
    r[field] = [_author(rng, countries, corporate="corporate" in field) for _ in range(n_auth)]
    if rng.random() < 0.15:
        r["corporate_author"] = [_author(rng, countries, corporate=True)]
    if tl and tl.startswith("m") or lit.startswith("M"):
        r["title_monographic"] = _text_entries(rng, langs[:1], 3, 8)
        r["pages_monographic"] = rng.choice(("230 p.", "xv, 120", "88 p. ilus."))
        r["isbn"] = f"978-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}"
        r["publisher"] = "Editora " + _word(rng).title() + ("\nSegunda" if rng.random() < 0.05 else "")
        r["publication_city"] = _word(rng).title()
        if rng.random() < 0.3:
            r["edition"] = f"{rng.randint(1, 5)} ed."
        if rng.random() < 0.3:
            r["volume_monographic"] = str(rng.randint(1, 12))
    if tl and tl.startswith("c") or lit.endswith("c") or "c" in lit[1:]:
        r["title_collection"] = _text_entries(rng, langs[:1], 3, 6)
    if lit.startswith("S"):
        t = rng.choice(titles)
        r["title_serial"] = t["shortened_title"] if rng.random() < 0.8 else "Rev Desconhecida"
        if rng.random() < 0.8:
            r["issn"] = t["issn"]
        r["volume_serial"] = str(rng.randint(1, 60))
        if rng.random() < 0.8:
            r["issue_number"] = str(rng.randint(1, 12))
        r["pages"] = [rng.choice((
            {"_f": str(p := rng.randint(1, 400)), "_l": str(p + rng.randint(1, 20))},
            {"text": f"{rng.randint(1, 99)}-{rng.randint(100, 199)}"},
            {"f": str(rng.randint(1, 50))},
            {"_e": f"e{rng.randint(100, 999)}"},
        ))]
    if rng.random() < 0.8:
        c = rng.choice(countries)
        r["publication_country"] = rng.choice((c["en"], c["pt"], c["iso"], c["es"]))
    if rng.random() < 0.6:
        r["electronic_address"] = []
        for _ in range(rng.randint(1, 3)):
            ext = rng.choice(_MEDIA_EXT)
            r["electronic_address"].append({
                "_u": rng.choice(("http://", "https://www.", "www.", "")) + f"{_word(rng)}.org/{rid}.{ext}",
                "_y": rng.choice(("PDF", "MULTIMEDIA", "AUDIO", None, "HTML")),
                "_q": ext if rng.random() < 0.5 else None,
                "_i": None,
            })
    if rng.random() < 0.5:
        r["author_keyword"] = [{"text": _word(rng)} for _ in range(rng.randint(1, 5))]
    if rng.random() < 0.6:
        r["call_number"] = [_call_number(rng) for _ in range(rng.randint(1, 2))]
    if rng.random() < 0.85:
        r["descriptors_primary"] = [{"text": _decs_code(rng, n_decs)} for _ in range(rng.randint(1, 4))]
    if rng.random() < 0.8:
        r["descriptors_secondary"] = [{"text": _decs_code(rng, n_decs)} for _ in range(rng.randint(1, 8))]
    if rng.random() < 0.4:
        r["check_tags"] = [str(rng.randint(1, n_decs)) for _ in range(rng.randint(1, 3))]
    if rng.random() < 0.4:
        r["publication_type"] = rng.sample(("Research Support", "Review", "Clinical Trial",
                                            "Case Reports", "/therapy"), rng.randint(1, 2))
    if rng.random() < 0.1:
        r["local_descriptors"] = "\n".join(_word(rng) for _ in range(rng.randint(1, 3)))
    if rng.random() < 0.6:
        r["LILACS_original_id"] = str(900000 + rid)
    if rng.random() < 0.3:
        r["alternate_ids"] = [f"biblio-{rid}", f"mdl-{rng.randint(1, 10**7)}"]
    if rng.random() < 0.3:
        r["doi_number"] = f"10.{rng.randint(1000, 9999)}/{_word(rng)}.{rid}"
    if rng.random() < 0.5:
        r["database"] = rng.sample([d.lower() for d in _DBS[:7]] + ["Cúmed", "Bdenf "], rng.randint(1, 2))
    if rng.random() < 0.8:
        r["cooperative_center_code"] = f"BR{rng.randint(1, 999):03d}.{rng.randint(1, 9)}"
    if rng.random() < 0.4:
        r["descriptive_information"] = [{"_b": rng.choice(("ilus", "tab", "graf"))}]
    if rng.random() < 0.3:
        r["license"] = rng.choice(("CC BY", "CC BY-NC", "CC0"))
    if rng.random() < 0.2:
        r["transfer_date_to_database"] = f"20{rng.randint(10, 24):02d}{rng.randint(1, 12):02d}"
    if rng.random() < 0.08:
        c = rng.choice(countries)
        r.update({
            "conference_country": c["en"], "conference_city": _word(rng).title(),
            "conference_normalized_date": f"{year}0101", "conference_date": f"{year}",
            "conference_sponsoring_institution": "Soc " + _word(rng).title(),
            "conference_name": "Congresso " + _word(rng).title(),
        })
    if rng.random() < 0.05:
        r.update({"project_sponsoring_institution": "Fund " + _word(rng).title(),
                  "project_name": "Proj " + _word(rng).title(),
                  "project_number": str(rng.randint(1, 9999))})
    if lit.startswith("T"):
        r.update({"thesis_dissertation_institution": "Univ " + _word(rng).title(),
                  "thesis_dissertation_leader": [{"text": _word(rng).title()}],
                  "thesis_dissertation_academic_title": rng.choice(("Mestre", "Doutor"))})
    if rng.random() < 0.05:
        r["inventory_number"] = str(rng.randint(1, 99999))
        r["total_number_of_volumes"] = str(rng.randint(1, 5))
    if rng.random() < 0.2:
        r["non_decs_region"] = [rng.choice(countries)["en"]]
    if rng.random() < 0.03:
        r["clinical_trial_registry_name"] = "ReBEC"
    if rng.random() < 0.1:
        r["community"] = "SUS Digital"
        r["community_collection_path"] = [
            f"SUS/Programas/pt-br/Tema {_word(rng)}|SUS/Programas/en/Theme {_word(rng)}",
            f"SUS/Alvo/pt/Grupo {_word(rng)}",
        ]
    if rng.random() < 0.05:
        r["related_research"] = [_word(rng)]
    if rng.random() < 0.05:
        r["related_resource"] = [_word(rng)]
    return r


def fiadmin_context(seed: int) -> dict:
    dims = fiadmin_dims(seed)
    return {"countries": _countries(seed), "titles": dims["title_current"],
            "n_decs": len(dims["decs"])}


def _updated_time(rng: random.Random, day: int) -> str:
    return f"2025-06-{day:02d}T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"


def fiadmin_landing(seed: int, n: int, id_base: int = 1) -> list[dict]:
    """A landing batch of ``n`` records with ids id_base..id_base+n-1."""
    ctx = fiadmin_context(seed)
    rng = random.Random(seed * 1000003 + 4)
    return [fiadmin_record(rng, id_base + i, ctx, _updated_time(rng, 1)) for i in range(n)]


def delta_batches(seed: int, base_ids: int, n_batches: int, batch_size: int,
                  update_share: float = 1 / 3) -> list[list[dict]]:
    """Harvest deltas: each batch updates ~``update_share`` existing ids
    (ids 1..base_ids plus ids added by earlier batches) with a newer
    ``updated_time``, the rest are new ids. Batch b is stamped day b+2,
    later than the base (day 1), so every delta row is the newest
    version of its id."""
    ctx = fiadmin_context(seed)
    rng = random.Random(seed * 998244353 + 5)
    next_id, known = base_ids + 1, base_ids
    batches = []
    for b in range(n_batches):
        n_upd = round(batch_size * update_share)
        upd_ids = sorted(rng.sample(range(1, known + 1), n_upd))
        new_ids = list(range(next_id, next_id + batch_size - n_upd))
        next_id += len(new_ids)
        known = next_id - 1
        ids = upd_ids + new_ids
        rng.shuffle(ids)
        batches.append([fiadmin_record(rng, i, ctx, _updated_time(rng, b + 2)) for i in ids])
    return batches


class HarvestStub:
    """In-process seeded stand-in for the FI-Admin REST API: serves one
    delta batch as limit/offset pages, the ``fetch(offset, limit,
    params)`` contract of ``sources.rest_source.harvest_pages``.
    Picklable (plain attributes), so executors can call it."""

    def __init__(self, records: list[dict]):
        self.records = records

    @property
    def total_count(self) -> int:
        return len(self.records)

    def __call__(self, offset: int, limit: int, params: dict) -> list[dict]:
        return self.records[offset: offset + limit]


# ---------------------------------------------------------------------------
# TMGL


def tmgl_dims(seed: int) -> dict[str, list[dict]]:
    countries = _countries(seed)
    rng = random.Random(seed * 65537 + 6)
    who = [{"who_region": c["region"], "pais_en": c["en"],
            "pais_tmgl": c["en"] if rng.random() < 0.9 else None,
            "pais_sinonimo": [c["iso"], c["en"].upper()]}
           for c in countries]
    areas = [{"code_xml": f"{p}/{ch}", "label_en": f"{p.title()} {ch.title()}"}
             for p in ("mental", "pain", "cancer", "women", "aging")
             for ch in ("herbal", "acupuncture", "yoga", "diet")]
    return {"who_region": who, "areas": areas}


_TMGL_TYPES = ("article", "monography", "thesis", "non-conventional", "project document",
               "congress and conference", "video", "audio", "podcast", "database")
_TMGL_STUDY = ("systematic_reviews", "literature_review", "guideline", "clinical_trials",
               "overview", "diagnostic_studies", "case_report", "cohort", "unknown_x")
_TMGL_DATES = ("{y}", "Jan-Mar {y}", "{y}-{y2}", "c{y}", "s.d.", "1499", "")


def _tmgl_doc(rng: random.Random, did: str, ctx: dict) -> list[tuple[str, str]]:
    countries, areas, n_decs = ctx["countries"], ctx["areas"], ctx["n_decs"]
    f: list[tuple[str, str]] = [("id", did)]
    f.append(("instance", "tmgl" if rng.random() < 0.85 else rng.choice(("regional", "cvsp"))))
    if rng.random() < 0.1:
        f.append(("instance", "regional"))
    y = rng.randint(1990, 2025)
    f.append(("dp", rng.choice(_TMGL_DATES).format(y=y, y2=y + 1)))
    for la in rng.sample(("en", "EN", "pt", "es", "fr", "zh", "Es"), rng.randint(1, 2)):
        f.append(("la", la))
    for t in rng.sample(_TMGL_TYPES, rng.randint(1, 2)):
        f.append(("type", t))
    if rng.random() < 0.6:
        f.append(("ta", "J " + _word(rng).title()))
    for s in rng.sample(_TMGL_STUDY, rng.randint(0, 2)):
        f.append(("type_of_study", s))
    for _ in range(rng.randint(0, 4)):
        f.append(("mj", _decs_code(rng, n_decs) if rng.random() < 0.9 else "no_digits"))
    for a in rng.sample(areas, rng.randint(0, 2)):
        f.append(("tag_dimentions", a["code_xml"]))
    if rng.random() < 0.1:
        f.append(("tag_dimentions", "nomatch/zzz"))
    for a in rng.sample(areas, rng.randint(0, 1)):
        f.append(("tag_mtc_tema2", a["code_xml"]))
    for a in rng.sample(areas, rng.randint(0, 1)):
        f.append(("tag_mtc_tema3", a["code_xml"]))
    if rng.random() < 0.3:
        f.append(("traditional_medicines_cluster", rng.choice(("ayurveda", "tcm", "unani", "kampo"))))
    picked = rng.sample(countries, rng.choice((0, 1, 1, 1, 2, 3)))
    for c in picked:
        f.append(("cp", c["en"]))
        f.append(("who_regions", f"{c['region']}/{c['en'].replace(' ', '_')}"))
        f.append(("pais_afiliacao", f"^i{c['en']}^e{c['es']}^p{c['pt']}^f{c['fr']}"))
    if rng.random() < 0.4:
        f.append(("fulltext", "1"))
    if rng.random() < 0.02:
        f.append(("ab", "a < b & c > d"))  # escaping
    return f


def tmgl_dump(seed: int, n_files: int, docs_per_file: int, dup_share: float = 0.03) -> list[str]:
    """Solr-XML dump files as strings. Each file repeats ~dup_share of
    its ids later in the same file (first occurrence wins at ingest)."""
    dims = fiadmin_dims(seed)
    ctx = {"countries": _countries(seed), "areas": tmgl_dims(seed)["areas"],
           "n_decs": len(dims["decs"])}
    rng = random.Random(seed * 40503 + 7)
    files = []
    for fi in range(n_files):
        docs = [_tmgl_doc(rng, f"tmgl-{fi}-{i}", ctx) for i in range(docs_per_file)]
        for _ in range(round(docs_per_file * dup_share)):
            src = rng.choice(docs)
            dup = _tmgl_doc(rng, src[0][1], ctx)
            docs.append(dup)
        parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<add>\n']
        for d in docs:
            parts.append("<doc>\n")
            parts.extend(f'  <field name="{k}">{escape(v)}</field>\n' for k, v in d)
            parts.append("</doc>\n")
        parts.append("</add>\n")
        files.append("".join(parts))
    return files


# ---------------------------------------------------------------------------
# corpus

_VOCAB = ("batch part spark line column order small sort fast value scan a hash slow group "
          "agg filter query big key window row table stream merge data vector customer join "
          "the of and to in is for on with as by at from").split()


def corpus_docs(seed: int, n: int, exact_share: float = 0.08, near_share: float = 0.08) -> list[dict]:
    """Documents (doc_id, text, lang, source, n_chars); ~exact_share
    verbatim copies and ~near_share one-word-edited copies of earlier
    documents are appended with fresh ids."""
    rng = random.Random(seed * 2147483647 + 8)
    docs = []
    for i in range(n):
        words = [rng.choice(_VOCAB) for _ in range(rng.randint(12, 110))]
        if rng.random() < 0.05:
            words.append(f"contact {_word(rng)}@{_word(rng)}.com")
        if rng.random() < 0.05:
            words.append(f"call 555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}")
        text = " ".join(words)
        docs.append({"doc_id": i, "text": text, "lang": rng.choice(("en", "pt", "es", "zh")),
                     "source": f"src{i % 5}", "n_chars": len(text)})
    next_id = n
    for _ in range(round(n * exact_share)):
        src = docs[rng.randrange(n)]
        docs.append({**src, "doc_id": next_id})
        next_id += 1
    for _ in range(round(n * near_share)):
        src = docs[rng.randrange(n)]
        words = src["text"].split()
        words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        text = " ".join(words)
        docs.append({**src, "doc_id": next_id, "text": text, "n_chars": len(text)})
        next_id += 1
    return docs
