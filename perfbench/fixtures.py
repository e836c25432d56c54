"""Seeded fixtures and oracle digests, cached per ``(DATA_VERSION, sf, seed)``
under ``.perfbench_cache``. Generation and oracle time are reported as
information, never inside ``setup_s`` or ``wall_s``."""

from __future__ import annotations

import json
import os
import shutil
import time

from common import CACHE, digest_df


def _key(sf: float, seed: int) -> str:
    from arekit_r335_spark import datagen
    return f"d{datagen.DATA_VERSION}_sf{sf:g}_s{seed}"


def fixture(sf: float, seed: int) -> tuple[str, float | None]:
    """Fixture dir for ``(sf, seed)``; second item is the generation time in
    seconds when it was generated now, ``None`` when it came from the cache."""
    from arekit_r335_spark import datagen

    out = os.path.join(CACHE, "fixtures", _key(sf, seed))
    if os.path.exists(os.path.join(out, "data_version.txt")):
        return out, None
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    datagen.generate(tmp, sf, seed=seed)
    dt = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, dt


def n_turns(fixture_dir: str) -> int:
    import pyarrow.parquet as pq
    return pq.read_metadata(
        os.path.join(fixture_dir, "transcripts.parquet")).num_rows


def _cached(name: str, compute) -> dict:
    path = os.path.join(CACHE, "oracles", name + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    rec = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(rec, f)
    os.replace(path + ".tmp", path)
    return rec


TRIPLE_COLS = ["conv_id", "turn_idx", "s_ent_id", "t_ent_id", "s_value",
               "t_value", "s_group", "t_group", "label"]


def pyref_triples(spark, sf: float, seed: int, fixture_dir: str) -> dict:
    """Digest of ``oracle.pyref.extract_all_triples`` (the single-process
    reference transcription) plus its turns/s, once per seed."""
    def compute() -> dict:
        import pandas as pd

        from arekit_r335_spark.lexicons import FramesLexicon, KgInputs
        from arekit_r335_spark.oracle import pyref

        inputs = KgInputs.at(fixture_dir)
        t0 = time.perf_counter()
        frames = FramesLexicon.from_json(inputs.frames)
        tr = pd.read_parquet(inputs.transcripts)
        seed_ops = pd.read_parquet(inputs.seed_opinions)
        syn = pd.read_parquet(inputs.synonyms)
        got = pyref.extract_all_triples(
            tr, seed_ops, list(zip(syn["group_id"], syn["value"])),
            frames.variants, frames.max_variant_len, pyref.OConfig(), None,
            polarity=frames.polarity)
        dt = time.perf_counter() - t0
        pdf = pd.DataFrame(sorted(got), columns=TRIPLE_COLS)
        return {"digest": digest_df(spark.createDataFrame(pdf)),
                "rows": len(pdf), "seconds": dt,
                "turns_per_s": len(tr) / dt}
    return _cached(_key(sf, seed) + "_pyref_triples", compute)


def duck_samples(spark, sf: float, seed: int, fixture_dir: str) -> dict:
    """Digest of ``oracle.duck.samples_noframes_sql`` (the EP2 no-frames
    sample table computed by DuckDB), once per seed."""
    def compute() -> dict:
        import duckdb

        from arekit_r335_spark.lexicons import KgInputs, load_entity_types
        from arekit_r335_spark.oracle import duck

        inputs = KgInputs.at(fixture_dir)
        t0 = time.perf_counter()
        sql = duck.samples_noframes_sql(
            inputs.transcripts, inputs.synonyms, inputs.seed_opinions,
            load_entity_types(inputs.entity_types))
        con = duckdb.connect()
        try:
            pdf = con.sql(sql).df()
        finally:
            con.close()
        dt = time.perf_counter() - t0
        return {"digest": digest_df(spark.createDataFrame(pdf)),
                "rows": len(pdf), "seconds": dt}
    return _cached(_key(sf, seed) + "_duck_samples", compute)
