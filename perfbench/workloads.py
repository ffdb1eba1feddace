"""The benchmark's workloads: input generation, dimension load, one
closed-loop iteration, and the output checks.

Every call into the program goes through ``Layers.call`` so the traced
run can wrap it in a span; calls the program makes internally between
layers are wrapped by ``Layers.patch`` (module attributes replaced for
the traced iterations only, restored afterwards).
"""

from __future__ import annotations

import functools
import glob
import os
import random
import re
import shutil
import time
import xml.etree.ElementTree as ET
from contextlib import contextmanager

import gen

CURRENT_YEAR = 2025
REPORT_CHARTS = ["language", "doctype", "subject", "dimension"]
GLOBAL_CHARTS = ["language"]

# -- sizes -----------------------------------------------------------------
BULK_RECORDS = 20000
INC_BASE_RECORDS = 1000
INC_BATCHES = 3  # one per iteration; a run makes one
INC_BATCH_SIZE = 300
CHECKPOINT_STAGES = ("02_iahx_xml",)
TMGL_FILES = 2
TMGL_DOCS_PER_FILE = 1000
TMGL_REPORT_COUNTRIES = 2
CORPUS_DOCS = 4000


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def p1_pass(rec: dict) -> bool:
    """The standardize stage filter (P1), restated independently."""
    return rec.get("status") in (0, 1, -2, -3) and rec.get("treatment_level") not in (None, "")


def count_xml_docs(path: str) -> tuple[int, int]:
    """(docs, shards) over every part file of an XML export; raises if
    any shard does not parse."""
    docs, shards = 0, 0
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        root = ET.parse(part).getroot()
        if root.tag != "add":
            raise ValueError(f"{part}: root <{root.tag}>, expected <add>")
        docs += sum(1 for el in root if el.tag == "doc")
        shards += 1
    if shards == 0:
        raise ValueError(f"{path}: no XML shards written")
    return docs, shards


# ---------------------------------------------------------------------------
# layer calls and tracing hooks


class Layers:
    """Routes program calls through the tracer: in the traced run each
    call is a span whose job group collects the Spark jobs the call
    itself submits. Tracing adds spans only; the work is unchanged, so
    a lazy call's execution is charged to the span whose action runs
    it (the medallion write, the store, the sink)."""

    def __init__(self, tracer):
        self.tr = tracer

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        with self.tr.span(name, layer):
            return fn(*args, **kwargs)

    @contextmanager
    def patch(self, targets: list[tuple[object, str, str]]):
        """Wrap ``module.attribute`` calls the program makes between its
        own layers; targets are (module, attribute, layer). No-op when
        untraced; restored on exit."""
        saved = []
        if self.tr.enabled:
            for mod, attr, layer in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, functools.partial(self.call, layer, f"{layer}.{attr}", orig))
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)


class Workload:
    """generate (pure Python) -> load_dims (set-up) -> prepare (untimed)
    -> iteration (timed, repeated) -> check."""

    name = ""

    def load_dims(self, spark) -> None:
        pass

    def prepare(self, spark) -> None:
        pass


# ---------------------------------------------------------------------------
# FI-Admin ETL


def _dims_schemas():
    return {
        "tabpais": "pt string, en string, es string, fr string, pais_2 string, "
                   "sinonimo array<string>",
        "title_current": "issn string, shortened_title string, title string, "
                         "medline_shortened_title string, parallel_titles array<string>, "
                         "shortened_parallel_titles array<string>, other_titles array<string>, "
                         "country array<string>",
        "decs": "mfn string, descritor_ingles string, descritor_portugues string, "
                "descritor_espanhol string, descritor_frances string, "
                "descritor_espanhol_espanha string, versao_alternativa_ingles string, "
                "versao_alternativa_espanhol string, versao_alternativa_portugues string, "
                "sinonimos_ingles array<string>, sinonimos_espanhol array<string>, "
                "sinonimos_portugues array<string>, sinonimos_espanha array<string>, "
                "sinonimos_frances array<string>",
        "instance_ecollection": "db string, instance array<string>, collection string, "
                                "collection_instance array<string>",
        "db_instance_ecollection": "database_campo4 string, db array<string>, "
                                   "instance array<string>, collection_instance array<string>",
        "brisa_ai": "ai1 array<string>, ai2 string",
    }


TEMAS_SCHEMA = ("id_iahx string, db string, instance_iahx array<string>, "
                "collection_iahx array<string>, tema_subtema array<string>, "
                "tema array<string>, projeto array<string>")


def _out_id(rec: dict) -> str:
    lil = rec.get("LILACS_original_id")
    return f"lil-{lil}" if lil else f"biblio-{rec['id']}"


class _EtlBase(Workload):
    """Shared FI-Admin dimension handling."""

    def _gen_dims(self, seed: int, work: str, records: list[dict]) -> list[str]:
        dims = gen.fiadmin_dims(seed)
        temas = gen.temas_rows(seed, [_out_id(r) for r in records])
        texts = []
        for name, rows in dims.items():
            texts.append(gen.jsonl(rows))
            _write(os.path.join(work, f"dim_{name}.jsonl"), texts[-1])
        for name, rows in temas.items():
            texts.append(gen.jsonl(rows))
            _write(os.path.join(work, f"temas_{name}.jsonl"), texts[-1])
        return texts

    def load_dims(self, spark) -> None:
        from data_governance_spark.pipeline import Dims

        def read(path, schema):
            df = spark.read.schema(schema).json(path).cache()
            df.count()
            return df

        schemas = _dims_schemas()
        d = {n: read(os.path.join(self.work, f"dim_{n}.jsonl"), s) for n, s in schemas.items()}
        temas = {n: read(os.path.join(self.work, f"temas_{n}.jsonl"), TEMAS_SCHEMA)
                 for n in ("hans", "sus", "oms")}
        self.dims = Dims(
            tabpais=d["tabpais"], title_current=d["title_current"], decs=d["decs"],
            instance_ecollection=d["instance_ecollection"],
            db_instance_ecollection=d["db_instance_ecollection"],
            temas=temas, brisa_ai=d["brisa_ai"],
        )

    def _pipeline_targets(self):
        import data_governance_spark.pipeline as P

        return [
            (P, "standardize", "standardize"),
            (P, "normalize_country_fields", "standardize"),
            (P, "rename_ai", "standardize"),
            (P, "enrich_instance_ecollection", "enrich"),
            (P, "enrich_db_instance_ecollection", "enrich"),
            (P, "enrich_temas", "enrich"),
            (P, "doc_xml", "sinks.xml_sink"),
            (P, "write_solr_xml", "sinks.xml_sink"),
        ]


class EtlBulk(_EtlBase):
    """One large landing batch -> run_pipeline (full columns) -> XML."""

    name = "etl_bulk"

    def generate(self, seed: int, work: str) -> dict:
        self.work = work
        self.records = gen.fiadmin_landing(seed, BULK_RECORDS)
        text = gen.jsonl(self.records)
        _write(os.path.join(work, "landing.jsonl"), text)
        self.expected_docs = sum(map(p1_pass, self.records))
        return {"records": len(self.records),
                "digest": gen.digest([text, *self._gen_dims(seed, work, self.records)])}

    def iteration(self, spark, L: Layers, i: int) -> dict:
        from data_governance_spark import pipeline as P
        from data_governance_spark.fixtures import FIADMIN_LANDING_SCHEMA

        out_dir = os.path.join(self.work, f"xml_{i}")
        with L.patch(self._pipeline_targets()):
            landing = spark.read.schema(FIADMIN_LANDING_SCHEMA).json(
                os.path.join(self.work, "landing.jsonl"))
            enriched = L.call("pipeline", "pipeline.run_pipeline", P.run_pipeline,
                              landing, self.dims, CURRENT_YEAR)
            L.call("sinks.xml_sink", "sinks.xml_sink.export_xml", P.export_xml,
                   enriched, out_dir)
        self.last_out = out_dir
        return {"records": len(self.records), "xml_bytes": _du(out_dir)}

    def check(self, spark) -> list[tuple[str, bool, str]]:
        docs, shards = count_xml_docs(self.last_out)
        return [("xml_doc_count", docs == self.expected_docs,
                 f"{docs} docs in {shards} shards, expected {self.expected_docs}")]


class EtlIncremental(_EtlBase):
    """One delta batch per iteration: harvest -> records_df -> upsert
    into the stored landing (written back as a new version) ->
    run_pipeline(checkpoint_dir) on the batch's rows -> XML. Iteration
    i applies delta batch i on top of the landing iteration i-1 left."""

    name = "etl_incremental"

    def generate(self, seed: int, work: str) -> dict:
        self.work = work
        self.base = gen.fiadmin_landing(seed, INC_BASE_RECORDS)
        self.batches = gen.delta_batches(seed, INC_BASE_RECORDS, INC_BATCHES, INC_BATCH_SIZE)
        text = gen.jsonl(self.base)
        _write(os.path.join(work, "landing_base.jsonl"), text)
        all_recs = self.base + [r for b in self.batches for r in b]
        texts = [text, *(gen.jsonl(b) for b in self.batches)]
        self.applied: list[list[dict]] = []
        self.outputs: list[tuple[str, int]] = []
        return {"records": INC_BATCH_SIZE,
                "digest": gen.digest([*texts, *self._gen_dims(seed, work, all_recs)])}

    def _read_landing(self, spark, k: int):
        """Landing version k: the generated base (JSON lines) or the
        parquet table upsert k wrote."""
        from data_governance_spark.fixtures import FIADMIN_LANDING_SCHEMA

        if k == 0:
            return spark.read.schema(FIADMIN_LANDING_SCHEMA).json(
                os.path.join(self.work, "landing_base.jsonl"))
        return spark.read.parquet(os.path.join(self.work, f"landing_v{k}"))

    def iteration(self, spark, L: Layers, i: int) -> dict:
        from pyspark.sql import functions as F

        from data_governance_spark import pipeline as P
        from data_governance_spark.fixtures import FIADMIN_LANDING_SCHEMA
        from data_governance_spark.sources import rest_source as R

        if i >= len(self.batches):
            raise RuntimeError(f"only {len(self.batches)} delta batches generated")
        batch = self.batches[i]
        stub = gen.HarvestStub(batch)
        day = batch[0]["updated_time"][:10]
        with L.patch(self._pipeline_targets()):
            pages = L.call("sources.rest_source", "sources.rest_source.harvest_pages",
                           R.harvest_pages, spark, stub, stub.total_count, limit=100,
                           params=R.date_range_params(day, day + "T23:59:59"),
                           num_partitions=spark.sparkContext.defaultParallelism)
            delta = L.call("sources.rest_source", "sources.rest_source.records_df",
                           R.records_df, pages, FIADMIN_LANDING_SCHEMA)
            landing = self._read_landing(spark, i)
            merged = L.call("sources.rest_source", "sources.rest_source.upsert_latest",
                            R.upsert_latest, landing.unionByName(delta))
            new_path = os.path.join(self.work, f"landing_v{i + 1}")
            # the upsert's write-back (S6): runs the harvest and the merge
            L.call("sources.rest_source", "sources.rest_source.write_landing",
                   lambda df: df.write.parquet(new_path), merged)
            # the incremental watermark (S2): this batch's rows only
            todo = spark.read.parquet(new_path).filter(F.col("updated_time") >= day)
            ck = os.path.join(self.work, f"ck_{i}")
            enriched = L.call("pipeline", "pipeline.run_pipeline", P.run_pipeline,
                              todo, self.dims, CURRENT_YEAR, checkpoint_dir=ck,
                              checkpoint_stages=CHECKPOINT_STAGES)
            out_dir = os.path.join(self.work, f"xml_{i}")
            L.call("sinks.xml_sink", "sinks.xml_sink.export_xml", P.export_xml,
                   enriched, out_dir)
        self.applied.append(batch)
        self.outputs.append((out_dir, sum(map(p1_pass, batch))))
        return {"records": len(batch), "xml_bytes": _du(out_dir),
                "checkpoint_bytes": _du(ck)}

    def check(self, spark) -> list[tuple[str, bool, str]]:
        out = []
        for path, want in self.outputs:
            docs, shards = count_xml_docs(path)
            out.append((f"xml_doc_count:{os.path.basename(path)}", docs == want,
                        f"{docs} docs in {shards} shards, expected {want}"))
        newest: dict[int, str] = {}
        for r in self.base + [r for b in self.applied for r in b]:
            if r["updated_time"] > newest.get(r["id"], ""):
                newest[r["id"]] = r["updated_time"]
        last = self._read_landing(spark, len(self.applied))
        got = [(r["id"], r["updated_time"]) for r in last.select("id", "updated_time").collect()]
        ok = len(got) == len(newest) and dict(got) == newest
        out.append(("upsert_one_row_per_id_newest", ok,
                    f"{len(got)} rows, {len(dict(got))} ids, expected {len(newest)}"))
        # rows kept by each upsert over rows it was given
        sizes = [self._read_landing(spark, k).count() for k in range(len(self.applied) + 1)]
        self.stats = {"sources.rest_source.upsert_kept_frac": sum(
            sizes[k + 1] / (sizes[k] + len(b)) for k, b in enumerate(self.applied)
        ) / len(self.applied)}
        return out


# ---------------------------------------------------------------------------
# TMGL dashboards

_YEAR = re.compile(r"(\d{4})")


class TmglDashboards(Workload):
    """iAHx dumps -> landing -> metrics + timeline -> global chart JSON
    -> per-country HTML reports for a seeded country subset."""

    name = "tmgl_dashboards"

    def generate(self, seed: int, work: str) -> dict:
        self.work = work
        files = gen.tmgl_dump(seed, TMGL_FILES, TMGL_DOCS_PER_FILE)
        os.makedirs(os.path.join(work, "dumps"), exist_ok=True)
        for k, text in enumerate(files):
            _write(os.path.join(work, "dumps", f"dump_{k:03d}_regional_tmgl.xml"), text)
        dims = gen.tmgl_dims(seed)
        decs = [{"mfn": d["mfn"], "descritor_ingles": d["descritor_ingles"]}
                for d in gen.fiadmin_dims(seed)["decs"]]
        texts = [gen.jsonl(dims["who_region"]), gen.jsonl(dims["areas"]), gen.jsonl(decs)]
        for name, text in zip(("who_region", "areas", "decs"), texts):
            _write(os.path.join(work, f"dim_{name}.jsonl"), text)
        self._expect(files, dims, seed)
        return {"records": self.total_docs, "digest": gen.digest([*files, *texts])}

    def _expect(self, files: list[str], dims: dict, seed: int) -> None:
        """Independent restatement of ingest (tmgl filter, first id per
        file wins) and of the language explode count (year >= 1500)."""
        self.total_docs, kept, lang_total, cps = 0, 0, 0, set()
        for text in files:
            seen = set()
            for doc in ET.fromstring(text).iter("doc"):
                self.total_docs += 1
                f: dict[str, list[str]] = {}
                for el in doc.iter("field"):
                    f.setdefault(el.get("name"), []).append(el.text or "")
                did = f["id"][0]
                if did in seen:
                    continue
                seen.add(did)
                if "tmgl" not in f.get("instance", []):
                    continue
                kept += 1
                m = _YEAR.search(f.get("dp", [""])[0])
                if m and int(m.group(1)) >= 1500:
                    lang_total += len(f.get("la", []))
                cps.update(f.get("cp", []))
        self.kept_docs, self.lang_total = kept, lang_total
        known = sorted(c for c in cps if c in {w["pais_en"] for w in dims["who_region"]})
        self.countries = sorted(random.Random(seed).sample(known, TMGL_REPORT_COUNTRIES))
        iso = {w["pais_en"]: w["pais_sinonimo"][0] for w in dims["who_region"]}
        self.expected_html = sorted(f"{iso[c].lower()}.html" for c in self.countries)

    def load_dims(self, spark) -> None:
        def read(name, schema):
            df = spark.read.schema(schema).json(os.path.join(self.work, f"dim_{name}.jsonl")).cache()
            df.count()
            return df

        self.who = read("who_region", "who_region string, pais_en string, pais_tmgl string, "
                                      "pais_sinonimo array<string>")
        self.areas = read("areas", "code_xml string, label_en string")
        self.decs = read("decs", "mfn string, descritor_ingles string")

    def iteration(self, spark, L: Layers, i: int) -> dict:
        from pyspark.sql import functions as F

        from data_governance_spark import tmgl_pipeline as TP
        from data_governance_spark.sinks import html_sink as H
        from data_governance_spark.sinks import json_sink as J

        it_dir = os.path.join(self.work, f"out_{i}")
        os.makedirs(os.path.join(it_dir, "charts"), exist_ok=True)
        targets = [(TP, "read_solr_xml", "sources.solr_xml"),
                   (TP, "project_fields", "sources.solr_xml")]
        with L.patch(targets):
            parsed = L.call("sources.solr_xml", "sources.solr_xml.ingest_tmgl_landing",
                            TP.ingest_tmgl_landing, spark,
                            os.path.join(self.work, "dumps", "*.xml"))
        # the landing zone is stored, as the reference's ingest DAG does;
        # every metric family reads the stored table
        landing_path = os.path.join(it_dir, "landing")
        L.call("sources.solr_xml", "sources.solr_xml.store_landing",
               lambda df: df.write.parquet(landing_path), parsed)
        landing = spark.read.parquet(landing_path)
        # the metrics store: computed once per run of the DAG and read
        # by every chart/report (the reference upserts it into Mongo)
        metrics = L.call("metrics", "metrics.compute_metrics", TP.compute_metrics,
                         landing, self.who, self.decs, self.areas)
        store = os.path.join(it_dir, "metrics")
        L.call("metrics", "metrics.store", lambda df: df.write.parquet(store), metrics)
        metrics = spark.read.parquet(store)
        timeline = L.call("metrics", "metrics.compute_timeline", TP.compute_timeline,
                          landing, self.who)
        L.call("metrics", "metrics.store_timeline",
               lambda df: df.write.parquet(os.path.join(it_dir, "timeline")), timeline)
        glob_rows = metrics.filter(F.col("country").isNull() & F.col("region").isNull())
        for t in GLOBAL_CHARTS:
            L.call("sinks.json_sink", "sinks.json_sink.write_chart_json", J.write_chart_json,
                   glob_rows, t, os.path.join(it_dir, "charts", f"{t}.json"))
        selected = metrics.filter(F.col("country").isin(self.countries))
        t0 = time.perf_counter()
        paths = L.call("sinks.html_sink", "sinks.html_sink.write_country_reports",
                       H.write_country_reports, selected, self.who, REPORT_CHARTS,
                       os.path.join(it_dir, "html"), "2025-06-30")
        per_report = (time.perf_counter() - t0) / max(len(paths), 1)
        self.last = (it_dir, store)
        return {"records": self.total_docs, "report_latency": per_report,
                "reports": len(paths)}

    def check(self, spark) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        it_dir, store = self.last
        kept = spark.read.parquet(os.path.join(it_dir, "landing")).count()
        self.stats = {"sources.solr_xml.kept_frac": kept / self.total_docs}
        m = spark.read.parquet(store)
        lang = m.filter((F.col("type") == "language") & F.col("region").isNull()
                        & F.col("country").isNull()).agg(F.sum("count")).collect()[0][0] or 0
        html = sorted(os.path.basename(p) for p in glob.glob(os.path.join(it_dir, "html", "*.html")))
        charts = glob.glob(os.path.join(it_dir, "charts", "*.json"))
        return [
            ("ingest_kept_docs", kept == self.kept_docs,
             f"{kept} landing rows, expected {self.kept_docs}"),
            ("explode_count_conservation", lang == self.lang_total,
             f"language total {lang}, exploded {self.lang_total}"),
            ("one_html_per_country", html == self.expected_html,
             f"{html} vs {self.expected_html}"),
            ("global_charts_written", len(charts) == len(GLOBAL_CHARTS), f"{len(charts)} charts"),
        ]


# ---------------------------------------------------------------------------
# corpus


class CorpusPrep(Workload):
    """prepare_corpus over a seeded documents table with exact and
    near-duplicate injection."""

    name = "corpus_prep"

    def generate(self, seed: int, work: str) -> dict:
        self.work = work
        self.docs = gen.corpus_docs(seed, CORPUS_DOCS)
        text = gen.jsonl(self.docs)
        _write(os.path.join(work, "documents.jsonl"), text)
        return {"records": len(self.docs), "digest": gen.digest([text])}

    def prepare(self, spark) -> None:
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        ).json(os.path.join(self.work, "documents.jsonl")).write.mode("overwrite").parquet(
            os.path.join(self.work, "documents"))

    def iteration(self, spark, L: Layers, i: int) -> dict:
        from data_governance_spark import corpus as C

        targets = [(C, a, "operators") for a in (
            "filter_corpus", "redact_pii", "exact_precluster", "minhash_dedup_pairs",
            "connected_components", "keep_canonical", "hash_split", "pack_sequences")]
        docs = spark.read.parquet(os.path.join(self.work, "documents"))
        with L.patch(targets):
            res = L.call("corpus", "corpus.prepare_corpus", C.prepare_corpus, docs)
            out = os.path.join(self.work, f"packed_{i}")
            L.call("corpus", "corpus.write_packed",
                   lambda df: df.write.mode("overwrite").parquet(out), res.packed)
            self.survivors = L.call("corpus", "corpus.count_kept", lambda df: df.count(), res.kept)
        res.release()
        return {"records": len(self.docs)}

    def check(self, spark) -> list[tuple[str, bool, str]]:
        return [("corpus_survivors_le_input", 0 < self.survivors <= len(self.docs),
                 f"{self.survivors} survivors of {len(self.docs)}")]


WORKLOADS = {w.name: w for w in (EtlBulk, EtlIncremental, TmglDashboards, CorpusPrep)}


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
