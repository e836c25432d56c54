"""End-to-end EP1: transcripts -> (subj, pred, obj) triples.

Composition of the stage functions (SURVEY.md §3 EP1, §7 stage 2):

    scan -> parse UDF -> mentions (+groups) -> candidate pairs (J2/J3)
         -> nolabel doc opinions (J8)    ┐
    seed -> predefined doc opinions (J8) ┴-> union+priority (U1/J9)
         -> group-join expansion (J6) -> filters (J10/J11) -> dedup (J9)
         -> triples

No custom pipeline framework: each stage is DataFrame -> DataFrame; Catalyst
owns the physical plan. The parse output is the one intermediate consumed by
multiple downstream joins — when the fan-out warrants it, it is
localCheckpoint'ed (or written to a conv_id-bucketed table at real scale) so
the Arrow parse runs exactly once over the corpus. EP2 parses once too: one
annotated parse with terms, checkpointed, feeds both the EP1 triples (as its
slim projection) and the sample masking, as AREkit serializes samples from
the same parsed text it extracts opinions from.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .lexicons import FramesLexicon, KgInputs, load_entity_types, load_synonym_seed
from .operators.connotation import frame_doc_opinions
from .operators.expansion import (dedup_across_annotators,
                                  expand_to_text_opinions,
                                  triples_schema_select)
from .operators.grouping import seed_groups_df, with_group_key
from .operators.mentions import frames_table, mentions_table
from .operators.opinions import (nolabel_doc_opinions, predefined_doc_opinions,
                                 union_annotators)
from .operators.pairs import candidate_pairs, exclude_existed
from .operators.parse import parse_transcripts


def _warn_nondefault_lever(name: str, value: str) -> None:
    """A/B env levers change the SEMANTICS/plan of registered queries (e.g.
    SPARK_KG_FRAME_ANNOT=0 drops the J4b labels and fails the hash oracles)
    — log loudly so a recorded run can never silently carry a lever."""
    import logging
    logging.getLogger(__name__).warning(
        "non-default A/B lever %s=%s — registered kg_* queries may diverge "
        "from their oracles under this setting", name, value)


def _connotation_map(frames_lex: FramesLexicon, cfg) -> dict:
    """J4b label-map selection (cfg.connotation): the reference's a0->a1
    polarity (``try_get_frame_polarity``), or a role's effect labels
    (``get_frame_effects`` + the EffectLabelsFormatter mapping)."""
    c = getattr(cfg, "connotation", "polarity")
    if c == "polarity":
        return frames_lex.polarity
    if c.startswith("effect:"):
        return frames_lex.role_effect_map(c.split(":", 1)[1])
    raise ValueError(f"unknown connotation source: {c!r} "
                     "(expected 'polarity' or 'effect:<role>')")


@dataclass
class TriplePipelineResult:
    mentions: DataFrame
    frames: DataFrame
    doc_opinions: DataFrame
    text_opinions: DataFrame   # deduped mention-level rows incl. positions
    triples: DataFrame


def attach_entity_types(mentions: DataFrame, spark: SparkSession,
                        types: dict[str, str]) -> DataFrame:
    """Broadcast value->type lookup (J12 support); unknown values get NULL."""
    if not types:
        return mentions.withColumn("ent_type", F.lit(None).cast("string"))
    # a pandas frame takes the Arrow path to a LocalTableScan; a Python list
    # would become a Python RDD and cost worker tasks per plan that reads it
    tdf = spark.createDataFrame(
        pd.DataFrame(sorted(types.items()), columns=["value", "ent_type"]),
        "value string, ent_type string")
    return mentions.join(F.broadcast(tdf), "value", "left")


def _checkpointed_parse(transcripts: DataFrame, frames_lex: FramesLexicon,
                        cfg: PipelineConfig, persist: bool,
                        frame_annot_live: bool) -> DataFrame:
    """EP1's own parse, materialized ONCE — but only when the plan fan-out
    warrants it. With the frames branch + J4b annotator live, the triples
    DAG consumes the parse from up to 7 branches (mention windows, both
    pair-join sides, the frames table, both expansion sides), and AQE
    exchange reuse canNOT deduplicate them: per-branch column pruning makes
    each branch's exchange subtree non-identical, so the executed plan
    re-runs MapInArrow per branch (measured 7x at sf0.1, 16s -> 4-5s after
    this checkpoint; 102s -> 62.8s at sf1x8/local[8]). The NO-frames plan
    has low fan-out (mentions feed the pair self-join + expansion, all
    reusing one conv_id exchange) and the checkpoint write costs more than
    the recompute it saves (round-2 regression: kg_triples_noframes 2.68s
    -> 4.46s at identical semantics; gated A/B at sf0.1 confirms) — so the
    checkpoint is gated on the frames/J4b branch being live.
    ``localCheckpoint`` stores the slim row form (no terms column) — unlike
    a ``persist``, which builds Spark's columnar cache of the nested
    mention arrays at 5-10x the parse cost in alloc/GC CPU. With ``persist``
    (the runner) the checkpoint is eager, so the parse runs up front and
    the member checkpoints of ``build_triple_pipeline`` read its rows;
    otherwise it is lazy and the first action that reads the parse writes
    it. At real cluster scale the same role is played by writing the parse
    output to a conv_id-bucketed table (checkpoint blocks are not
    replicated; lineage is cut deliberately).
    SPARK_KG_PARSE_CKPT overrides: 1 forces on, 0 forces off, unset/auto
    gates on the frames fan-out."""
    import os as _os
    parsed = parse_transcripts(transcripts, frames_lex, cfg)
    _ckpt_lever = _os.environ.get("SPARK_KG_PARSE_CKPT", "auto")
    if _ckpt_lever not in ("auto", ""):
        _warn_nondefault_lever("SPARK_KG_PARSE_CKPT", _ckpt_lever)
    do_ckpt = (frame_annot_live if _ckpt_lever in ("auto", "")
               else _ckpt_lever != "0")
    if not do_ckpt:
        return parsed
    # Project role away BEFORE materializing: the checkpoint defeats
    # Catalyst column pruning (it stores every column for all 7 consuming
    # branches), and nothing in EP1 past the parse reads role —
    # mentions/frames/pairs/expansion key on (conv_id, turn_idx) only.
    # Without the checkpoint, pruning already removes it, so the no-ckpt
    # plan needs no change. SPARK_KG_DROP_ROLE=0 reverts for A/B
    # (BASELINE.md).
    if _os.environ.get("SPARK_KG_DROP_ROLE", "1") != "0":
        parsed = parsed.drop("role")
    return parsed.localCheckpoint(eager=persist)


def build_triple_pipeline(spark: SparkSession,
                          inputs: KgInputs,
                          cfg: PipelineConfig | None = None,
                          transcripts: DataFrame | None = None,
                          persist: bool = True,
                          frames_override: FramesLexicon | None = None,
                          strategy: str = "auto",
                          parsed: DataFrame | None = None,
                          seed_opinions: DataFrame | None = None
                          ) -> TriplePipelineResult:
    """EP1. ``strategy``: 'relational' (codegen self-join plan — the
    default), 'turnlocal' (array-HOF plan, valid for ``dist_in_sents == 0``),
    or 'auto' (= relational).

    ``persist`` is for callers that run several actions on one result (the
    runner writes edges, opinions and node partials from it). The parse
    checkpoint, when gated on, is then eager, and the ``mentions`` and
    ``doc_opinions`` members are eagerly ``localCheckpoint``ed: each one
    feeds more than one write, and ``text_opinions``/``triples`` are
    expanded from the checkpoints, so no write re-runs the mention windows,
    the pair self-join or the annotators. Both are flat rows, so the
    checkpoint stays cheap. Single-action callers pass ``persist=False``
    and get one lazy plan.

    ``parsed``: an already materialized parse output (conv_id, turn_idx,
    n_terms, mentions, frames), e.g. EP2's shared one; EP1 then neither
    parses nor checkpoints the parse, and ``transcripts`` is unused.
    Relational strategy only.

    ``seed_opinions``: the predefined annotator's seed table (default: read
    from ``inputs.seed_opinions``). The runner passes it already filtered to
    its bucket, so the bucket's doc opinions hold only its own
    conversations; keep-first partitions by ``conv_id``, so filtering the
    seed first is output-neutral.

    Why relational is the default: with subset co-partitioning enabled
    (session.py: ``requireAllClusterKeysForCoPartition=false``) the pair
    self-join and the opinion-expansion join both reuse the single post-parse
    conv_id hash partitioning, so the relational plan moves the same shuffle
    bytes as the turn-local one (parse output + doc-opinion agg) while every
    operator stays inside whole-stage codegen. The turn-local higher-order
    array functions (transform/filter/flatten lambdas) are CodegenFallback —
    interpreted evaluation plus one GenericInternalRow allocation per
    candidate pair — and profiled 5-10x the JVM CPU of the codegen join at
    identical output (sf1x8, local[32]: 990 vs 170 executor-CPU-seconds for
    the post-parse stages), with run-to-run variance whenever AQE flips the
    expansion join between broadcast and sort-merge. Turn-local remains for
    A/B and for exchange-count-sensitive deployments."""
    cfg = cfg or PipelineConfig()
    if transcripts is None and parsed is None:
        transcripts = spark.read.parquet(inputs.transcripts)
    if seed_opinions is None:
        seed_opinions = spark.read.parquet(inputs.seed_opinions)

    frames_lex = (frames_override if frames_override is not None
                  else FramesLexicon.from_json(inputs.frames))
    seed_syn = load_synonym_seed(inputs.synonyms)
    seed_df = seed_groups_df(spark, seed_syn)

    if strategy == "auto":
        strategy = "relational"
    if strategy == "turnlocal":
        if cfg.dist_in_sents != 0:
            raise ValueError("turnlocal strategy requires dist_in_sents == 0")
        if parsed is not None:
            raise ValueError("turnlocal strategy parses in its own closure "
                             "and takes no pre-parsed frame")
        return _build_turnlocal(spark, inputs, cfg, transcripts, persist,
                                frames_lex, seed_syn, seed_df, seed_opinions)

    import os as _os
    conn_map = _connotation_map(frames_lex, cfg)
    frame_annot_live = bool(conn_map) and _os.environ.get(
        "SPARK_KG_FRAME_ANNOT", "1") != "0"
    if _os.environ.get("SPARK_KG_FRAME_ANNOT", "1") == "0":
        _warn_nondefault_lever("SPARK_KG_FRAME_ANNOT", "0")
    if parsed is None:
        parsed = _checkpointed_parse(transcripts, frames_lex, cfg, persist,
                                     frame_annot_live)
    mentions = with_group_key(mentions_table(parsed), seed_df,
                              register_missed=cfg.register_missed_synonyms)
    if cfg.entity_type_whitelist is not None:
        # J3's is_entity_ignored_func and the J12 filter agree: a mention
        # whose type is outside the whitelist can join no pair on either end
        # (``filters/entity_based.py:9-28``). Filtering once AFTER positions/
        # ids are assigned preserves ent_id / ind_in_doc numbering.
        mentions = attach_entity_types(
            mentions, spark, load_entity_types(inputs.entity_types))
        mentions = mentions.filter(
            F.col("ent_type").isin(list(cfg.entity_type_whitelist)))
    if persist:
        mentions = mentions.localCheckpoint()

    pairs = candidate_pairs(mentions, cfg)
    frames_df = frames_table(parsed)

    predefined = predefined_doc_opinions(seed_opinions, seed_df)
    # canonical wiring passes get_doc_existed_opinions_func = None for the
    # nolabel annotator (rusentrel/extract_text_opinions.py:78) -> no J3
    # existed-opinion exclusion; exclude_existed() stays available for the
    # wiring that supplies one.
    nolabel = nolabel_doc_opinions(pairs, cfg.no_label)
    # J4b frame-connotation annotator (operators/connotation.py). Skipped
    # when the lexicon carries no polarities — an empty lexicon would only
    # add a dead parse branch to the plan.
    frame_ops = (frame_doc_opinions(pairs, frames_df, conn_map)
                 if frame_annot_live else None)
    doc_opinions = union_annotators(predefined, nolabel, frame_ops)
    if persist:
        doc_opinions = doc_opinions.localCheckpoint()

    expanded = expand_to_text_opinions(doc_opinions, mentions, cfg)
    text_opinions = dedup_across_annotators(expanded)
    triples = triples_schema_select(text_opinions)

    return TriplePipelineResult(
        mentions=mentions,
        frames=frames_df,
        doc_opinions=doc_opinions,
        text_opinions=text_opinions,
        triples=triples,
    )


def _build_turnlocal(spark: SparkSession, inputs: KgInputs,
                     cfg: PipelineConfig, transcripts: DataFrame,
                     persist: bool, frames_lex: FramesLexicon,
                     seed_syn, seed_df: DataFrame,
                     seed_opinions: DataFrame) -> TriplePipelineResult:
    """One-shuffle EP1 (operators/turnlocal.py): the synonym-seed (J7a) and
    entity-type (J12) lookups ride inside the parse closure; every stage
    after the single conv_id repartition is exchange-free."""
    from .operators import turnlocal as tl

    groups = {str(r.sid): f"g{int(r.group_id)}"
              for r in seed_syn.itertuples()}
    types = (load_entity_types(inputs.entity_types)
             if cfg.entity_type_whitelist is not None else None)
    parsed = parse_transcripts(transcripts, frames_lex, cfg,
                               groups=groups, types=types)
    annotated = tl.annotated_parsed(parsed, cfg)
    # NO caching here, deliberately (persist is accepted for signature
    # compatibility): the triples DAG reads ``annotated`` twice (pair stage +
    # expansion stage) and re-running the Arrow parse costs ~40 CPU-s per
    # million turns, while materializing Spark's columnar cache of the nested
    # mention arrays measured 5-10x that in allocation/GC CPU at high
    # parallelism (local[32]) and serialized the concurrent AQE branches on
    # BlockManager locks. Recompute beats remember for this shape.
    del persist

    predefined = predefined_doc_opinions(seed_opinions, seed_df)
    nolabel = tl.nolabel_doc_opinions_local(annotated, cfg)
    conn_map = _connotation_map(frames_lex, cfg)
    frame_ops = (tl.frame_doc_opinions_local(annotated, cfg, conn_map)
                 if conn_map else None)
    doc_opinions = union_annotators(predefined, nolabel, frame_ops)

    conv_ms = tl.conv_mentions(annotated)
    expanded = tl.expand_to_text_opinions_local(doc_opinions, conv_ms, cfg)
    text_opinions = dedup_across_annotators(expanded)
    triples = triples_schema_select(text_opinions)

    return TriplePipelineResult(
        mentions=tl.mentions_rows(annotated),
        frames=frames_table(parsed),
        doc_opinions=doc_opinions,
        text_opinions=text_opinions,
        triples=triples,
    )


def build_samples_pipeline(spark: SparkSession, inputs: KgInputs,
                           cfg: PipelineConfig | None = None,
                           store_labels: bool = True,
                           frames_override: FramesLexicon | None = None,
                           text_b_template: str | None = None,
                           entity_fmt: str = "sharp",
                           pos_tagger: str | None = None) -> DataFrame:
    """EP2: triples -> flat ML sample rows (operators/samples.py).

    ``entity_fmt`` picks the T9 masking formatter (operators/formatters.py);
    ``'ru_cased'`` needs a ``pos_tagger`` seam name (default: the UNKN
    tagger) whose declension suffixes are annotated at parse time."""
    from .operators.samples import build_samples

    cfg = cfg or PipelineConfig()
    frames_lex = (frames_override if frames_override is not None
                  else FramesLexicon.from_json(inputs.frames))
    # synonym-group / entity-type lookups ride in the parse closure (the
    # turn-local pipeline's inlined J7a/J12 path) so the sample-masking
    # expressions carry NO lexicon literals — see operators/samples.py.
    seed = load_synonym_seed(inputs.synonyms)
    seed_groups = {str(r.sid): f"g{int(r.group_id)}"
                   for r in seed.itertuples()}
    if entity_fmt == "ru_cased" and pos_tagger is None:
        pos_tagger = "default"
    parsed_full = parse_transcripts(spark.read.parquet(inputs.transcripts),
                                    frames_lex, cfg, with_terms=True,
                                    groups=seed_groups,
                                    types=load_entity_types(
                                        inputs.entity_types),
                                    pos_tagger=pos_tagger)
    # ONE parse serves both EP1 and the masking. The annotated parse is a
    # superset of EP1's slim one (same n_terms, mention positions/values and
    # frames; mentions_table reads only pos/value), so EP1 gets its
    # projection without terms. The checkpoint stores plain rows (no
    # columnar cache build, see _checkpointed_parse) and is read by every
    # EP1 branch plus the terms join — without it each branch would re-run
    # the Arrow parse, since their pruned subtrees never share an exchange.
    parsed_full = parsed_full.drop("role").localCheckpoint()
    res = build_triple_pipeline(
        spark, inputs, cfg, persist=False, frames_override=frames_lex,
        parsed=parsed_full.select("conv_id", "turn_idx", "n_terms",
                                  "mentions", "frames"))
    triples_pos = res.text_opinions.select(
        "conv_id", F.col("s_turn").alias("turn_idx"),
        "s_ent_id", "t_ent_id", "s_group", "t_group", "label",
        "s_pos", "t_pos")
    return build_samples(triples_pos, parsed_full,
                         store_labels=store_labels,
                         text_b_template=text_b_template,
                         entity_fmt=entity_fmt)
