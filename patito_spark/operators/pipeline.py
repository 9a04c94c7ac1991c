"""One-call training-corpus preparation: the whole engine, composed.

``prepare_training_corpus`` chains the pipeline a pretraining-data run
actually executes — clean → quality/language filter → near-dup
deduplicate → decontaminate → chunk → pack — each stage the operator
documented in its own module, composed so intermediate results flow as
lazy DataFrames (one action at the end materializes the whole graph,
letting Catalyst fuse the map-only stages).

Stage costs at scale (details in docs/scaling.md):

* clean + filter: fused into the first scan's projection (map-only
  unless the repetition gate is on); the optional paragraph stages
  (``boilerplate_min_docs``, ``paragraph_dedup`` — CCNet-style, see
  operators/paragraphs.py) each add two shuffles over the exploded
  paragraph table; the optional perplexity gate
  (CCNet-style: drop documents unlike a trusted reference LM) adds one
  broadcast join + per-doc aggregate;
* dedup: MinHash LSH candidates + verification + components — the only
  all-corpus shuffles in the pipeline; the optional SemDeDup stage adds
  one within-IVF-cell pass over a caller-supplied embedding table;
* decontamination: benchmark n-grams broadcast, corpus never shuffled;
* chunk: map-only explode;
* pack: partition-local first-fit, no shuffle.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F


def prepare_training_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: Optional[DataFrame] = None,
    repair_encoding: bool = False,
    min_quality: Optional[float] = None,
    rule_sets: Optional[Sequence[str]] = None,
    languages: Optional[Sequence[str]] = None,
    min_tokens: Optional[int] = 5,
    max_shared_gram_frac: Optional[float] = None,
    paragraph_dedup: Optional[str] = None,
    boilerplate_min_docs: Optional[int] = None,
    paragraph_sep: str = r"\n{2,}",
    dedup_span_tokens: Optional[int] = None,
    max_perplexity: Optional[float] = None,
    perplexity_lm: Optional[DataFrame] = None,
    perplexity_order: int = 1,
    perplexity_bigram_lm: Optional[DataFrame] = None,
    perplexity_arpa=None,
    ccnet_buckets: bool = False,
    ccnet_group_cols: Sequence[str] = ("lang",),
    quality_model=None,
    min_model_prob: float = 0.5,
    dedup_threshold: Optional[float] = 0.7,
    image_blob_col: Optional[str] = None,
    image_max_hamming: int = 6,
    image_use_real_codecs: bool = False,
    semantic_threshold: Optional[float] = None,
    embeddings: Optional[DataFrame] = None,
    embedding_col: str = "embedding",
    semantic_keep: str = "outlier",
    contamination_ngram: int = 8,
    contamination_action: str = "drop",
    contamination_neardup_threshold: Optional[float] = None,
    max_tokens_per_chunk: Optional[int] = None,
    chunk_boundary: str = "token",
    pack_max_len: Optional[int] = None,
    domain_col: Optional[str] = None,
    max_docs_per_domain: Optional[int] = None,
    domain_cap_order_col: Optional[str] = None,
) -> dict:
    """Run the standard pretraining-data pipeline over a document table.

    Returns a dict of DataFrames (all lazy except the dedup stage, which
    materializes its component labels internally):

    * ``documents`` — cleaned, filtered, deduplicated, decontaminated
      docs (``id_col``, ``text`` cleaned, original columns preserved);
    * ``chunks`` — present when ``max_tokens_per_chunk`` is set
      (``chunk_boundary="sentence"`` packs whole sentences to the
      budget — see :func:`..packing.chunk_documents`);
    * ``sequences`` — present when ``pack_max_len`` is set (packs chunks
      when chunking is on, else whole documents);
    * ``stages`` — dict of LAZY per-stage snapshots (one entry per
      stage that actually ran: ``repair_encoding``, ``boilerplate``,
      ``paragraph_dedup``, ``clean``, ``span_dedup``, ``gates``,
      ``perplexity_gate``, ``ccnet_buckets`` (when ``ccnet_buckets=True``
      — appends the Wenzek et al. 2020 per-language head/middle/tail
      perplexity-tercile label ``ccnet_bucket`` from the same score
      pass the gate uses; works with or without ``max_perplexity``),
      ``quality_model_gate``, ``near_dedup``,
      ``image_dedup`` (when ``image_blob_col`` names a binary image
      column — pHash near-dup, one survivor per hamming component),
      ``semantic_dedup``, ``decontamination``, ``domain_cap``). Free
      to build; count the ones you care about for a gate-attrition
      report (each count is one scan of that stage's plan).

    Stages are skipped when their parameter is None — the minimal call
    ``prepare_training_corpus(df)`` just cleans, length-filters, and
    near-dup-dedups.
    """
    from patito_spark.operators.dedup import dedup_corpus, minhash_dedup_against
    from patito_spark.operators.contamination import ngram_contamination
    from patito_spark.operators.packing import chunk_documents, pack_sequences
    from patito_spark.operators.text import clean_text, filter_corpus

    # Paragraph stages run on the RAW text (CCNet order, and by
    # necessity: clean_text collapses whitespace, which erases the
    # \n\n paragraph boundaries these stages key on). Their match keys
    # normalize case/spacing internally, so boilerplate still matches
    # across formatting variants.
    stages: dict = {}  # lazy per-stage snapshots (out["stages"])
    staged = df
    if repair_encoding:
        # First, so every downstream key (paragraph hashes, shingles,
        # quality features) sees the repaired text. Map-only.
        from patito_spark.operators.text import fix_mojibake

        staged = staged.withColumn(text_col, fix_mojibake(text_col))
        stages["repair_encoding"] = staged
    if boilerplate_min_docs is not None:
        # Template text repeated across >= k docs is removed BEFORE the
        # quality/token gates, so the gates judge the actual content.
        from patito_spark.operators.paragraphs import (
            drop_boilerplate_paragraphs,
        )

        staged = drop_boilerplate_paragraphs(
            staged,
            id_col=id_col,
            text_col=text_col,
            sep_pattern=paragraph_sep,
            min_docs=boilerplate_min_docs,
        )
        stages["boilerplate"] = staged
    if paragraph_dedup is not None:
        from patito_spark.operators.paragraphs import dedup_paragraphs

        staged = dedup_paragraphs(
            staged,
            id_col=id_col,
            text_col=text_col,
            sep_pattern=paragraph_sep,
            scope=paragraph_dedup,
        )
        stages["paragraph_dedup"] = staged
    cleaned = staged.withColumn(text_col, clean_text(text_col)).filter(
        F.length(F.col(text_col)) > 0
    )
    stages["clean"] = cleaned
    if dedup_span_tokens is not None:
        # ExactSubstr stage (Lee et al. 2022): duplicated >= n-token runs
        # are cut from all but their first occurrence. Runs AFTER
        # clean_text (normalized whitespace makes the token grams match
        # across formatting variants) and BEFORE the gates, so quality/
        # length judge the de-boilerplated content — same rationale as
        # the paragraph stages.
        from patito_spark.operators.spans import dedup_spans

        cleaned = dedup_spans(
            cleaned,
            id_col=id_col,
            text_col=text_col,
            span_tokens=dedup_span_tokens,
        )
        stages["span_dedup"] = cleaned
    gated = filter_corpus(
        cleaned,
        id_col=id_col,
        text_col=text_col,
        min_quality=min_quality,
        languages=languages,
        min_tokens=min_tokens,
        max_shared_gram_frac=max_shared_gram_frac,
    )
    stages["gates"] = gated
    if rule_sets:
        # Published rule-set gates (round 12): pure codegen projections
        # that fuse into the same scan as the generic gates above; the
        # boolean columns are dropped after filtering so downstream
        # stages see the original schema.
        from patito_spark.operators.heuristics import (
            c4_rules,
            gopher_repetition_rules,
            gopher_rules,
        )

        unknown = set(rule_sets) - {"gopher", "c4", "gopher_repetition"}
        if unknown:
            raise ValueError(
                f"unknown rule_sets {sorted(unknown)}; "
                "supported: 'gopher', 'c4', 'gopher_repetition'"
            )
        before = gated.columns
        if "gopher" in rule_sets:
            gated = gopher_rules(gated, text_col=text_col).filter(
                "pass_gopher"
            )
        if "c4" in rule_sets:
            gated = c4_rules(gated, text_col=text_col).filter("pass_c4")
        if "gopher_repetition" in rule_sets:
            # the Table-A2 battery is doc-local Counter work, so this
            # one runs as an Arrow stage, not a codegen projection
            gated = gopher_repetition_rules(
                gated, text_col=text_col
            ).filter("pass_repetition")
        gated = gated.select(*before)
        stages["rule_sets"] = gated
    if max_perplexity is not None or ccnet_buckets:
        # Anti-join against the EXCEEDING docs (not semi-join against the
        # passing ones): documents that produce zero token rows are absent
        # from the scorer output entirely, and a semi-join would drop
        # them regardless of max_perplexity. Token-less docs have no
        # perplexity evidence, so the gate keeps them (min_tokens is the
        # knob that removes empty docs). perplexity_order=2 scores under
        # the stupid-backoff bigram LM — order-sensitive, so scrambled/
        # bag-of-words spam that fools a unigram LM gates out.
        if perplexity_order == 1:
            from patito_spark.operators.text import unigram_logloss

            scored = unigram_logloss(
                gated, text_col=text_col, id_col=id_col, lm=perplexity_lm
            )
        elif perplexity_order == 2:
            from patito_spark.operators.text import bigram_logloss

            scored = bigram_logloss(
                gated,
                text_col=text_col,
                id_col=id_col,
                unigram_lm=perplexity_lm,
                bigram_lm=perplexity_bigram_lm,
            )
        elif perplexity_order == 3:
            if perplexity_lm is not None or perplexity_bigram_lm is not None:
                raise ValueError(
                    "perplexity_order=3 scores against the corpus's own "
                    "trigram statistics; external LMs are not supported"
                )
            from patito_spark.operators.text import trigram_logloss

            scored = trigram_logloss(
                gated, text_col=text_col, id_col=id_col
            ).withColumnRenamed("trigram_ppl", "perplexity")
        elif perplexity_order >= 4:
            # CCNet's production shape: a PRETRAINED n-gram artifact
            # (typically a 5-gram KenLM .arpa), not the corpus's own
            # statistics. perplexity_arpa is an arpa.ArpaLm or a path
            # load_arpa can read; perplexity_order caps the backoff
            # chain below the artifact's order when smaller.
            if perplexity_arpa is None:
                raise ValueError(
                    f"perplexity_order={perplexity_order} scores against "
                    "a pretrained .arpa artifact; pass perplexity_arpa="
                    "ArpaLm-or-path (operators.arpa.load_arpa)"
                )
            from patito_spark.operators.arpa import (
                ArpaLm,
                arpa_logloss,
                load_arpa,
            )

            lm = (
                perplexity_arpa
                if isinstance(perplexity_arpa, ArpaLm)
                else load_arpa(gated.sparkSession, perplexity_arpa)
            )
            scored = arpa_logloss(
                gated,
                lm,
                text_col=text_col,
                id_col=id_col,
                order=perplexity_order,
            ).withColumnRenamed("arpa_ppl", "perplexity")
        else:
            raise ValueError(
                f"perplexity_order must be >= 1, got {perplexity_order}"
            )
        if ccnet_buckets and max_perplexity is not None:
            # both consumers read the scored table — persist it so the
            # LM scoring pass runs once, not once per branch
            from patito_spark.functions.cache import tracked_persist

            scored = tracked_persist(scored)
        # the ladder population must be the FULL scored corpus, so grab
        # the pre-gate frame before the anti-join reassigns `gated`
        pre_gate = gated
        if max_perplexity is not None:
            reject = (
                scored.filter(F.col("perplexity") > max_perplexity)
                .select(id_col)
            )
            gated = gated.join(reject, on=id_col, how="left_anti")
            stages["perplexity_gate"] = gated
        if ccnet_buckets:
            # Wenzek et al. 2020's actual selection shape: per-language
            # head/middle/tail perplexity terciles from the SAME score
            # pass (one grouped sketch aggregate over the scored table
            # — zero extra corpus scans). Ladders are computed over the
            # full scored population (the paper's percentiles are
            # corpus-wide, not post-gate); the label lands on whatever
            # the gate kept. Docs the scorer never saw (no tokens)
            # carry a null bucket.
            from patito_spark.operators.sampling import (
                ccnet_buckets as _ccnet_buckets,
            )

            grp = list(ccnet_group_cols)
            missing = [c for c in grp if c not in pre_gate.columns]
            if missing:
                raise ValueError(
                    f"ccnet_buckets groups on {missing} but the input "
                    "has no such column(s); pass ccnet_group_cols=..."
                )
            # join group columns from the PRE-gate frame: with
            # max_perplexity set, `gated` is already the post-gate
            # survivor set, and a ladder computed over survivors shifts
            # the tercile boundaries (the paper's percentiles are
            # corpus-wide — Wenzek 2020 §4.3)
            labels = _ccnet_buckets(
                scored.join(pre_gate.select(id_col, *grp), on=id_col),
                ppl_col="perplexity",
                group_cols=grp,
            ).select(id_col, "ccnet_bucket")
            gated = gated.join(labels, on=id_col, how="left")
            stages["ccnet_buckets"] = gated
    if quality_model is not None:
        # Learned quality gate (GPT-3/CCNet-style classifier): one
        # shuffle-free transform with broadcast coefficients; the score
        # column is transient — callers wanting it keep score_quality.
        from patito_spark.operators.quality_model import score_quality

        gated = score_quality(
            gated, quality_model, text_col=text_col,
            output_col="__model_prob", min_prob=min_model_prob,
        ).drop("__model_prob")
        stages["quality_model_gate"] = gated
    if dedup_threshold is not None:
        gated = dedup_corpus(
            gated,
            id_col=id_col,
            text_col=text_col,
            threshold=dedup_threshold,
        )
        stages["near_dedup"] = gated
    if image_blob_col is not None:
        # Multimodal corpora get the one-call dedup path text already
        # has: pHash -> hamming star edges -> connected components ->
        # anti-join non-representatives (min id survives, exactly the
        # text composition). Star expansion keeps the edge set LINEAR
        # even when half the corpus is one re-posted image; documents
        # with a null blob are kept (no evidence either way).
        from patito_spark.operators.graph import connected_components
        from patito_spark.operators.multimodal import image_dedup_pairs

        with_img = gated.filter(F.col(image_blob_col).isNotNull())
        img_pairs = image_dedup_pairs(
            with_img,
            id_col=id_col,
            blob_col=image_blob_col,
            max_hamming=image_max_hamming,
            use_real_codecs=image_use_real_codecs,
            expand="star",
        )
        img_comp = connected_components(
            img_pairs.select("id_a", "id_b"), id_a="id_a", id_b="id_b"
        )
        img_drop = img_comp.filter(
            F.col("node") != F.col("component")
        ).select(F.col("node").alias(id_col))
        gated = gated.join(img_drop, on=id_col, how="left_anti")
        stages["image_dedup"] = gated
    if semantic_threshold is not None:
        # SemDeDup stage: textual near-dups are already gone (MinHash
        # stage above); this removes *semantic* duplicates — same
        # content, different wording — using a caller-supplied
        # embedding table keyed by ``id_col``. Documents WITHOUT an
        # embedding row are kept (no evidence either way), which is why
        # the drop set (embedded minus survivors) is anti-joined rather
        # than semi-joining on survivors.
        if embeddings is None:
            raise ValueError(
                "semantic_threshold requires an `embeddings` DataFrame "
                f"keyed by {id_col!r} with an {embedding_col!r} column"
            )
        from patito_spark.operators.semdedup import semantic_dedup

        emb = embeddings.join(
            gated.select(id_col), on=id_col, how="left_semi"
        )
        kept = semantic_dedup(
            emb,
            id_col=id_col,
            vec_col=embedding_col,
            threshold=semantic_threshold,
            keep=semantic_keep,
        )
        dropped = emb.select(id_col).join(
            kept.select(id_col), on=id_col, how="left_anti"
        )
        gated = gated.join(dropped, on=id_col, how="left_anti")
        stages["semantic_dedup"] = gated
    if contamination_action not in ("drop", "scrub", "winnow"):
        raise ValueError(
            f"contamination_action must be 'drop', 'scrub' or 'winnow', "
            f"got {contamination_action!r}"
        )
    if benchmark is not None and contamination_action == "winnow":
        # Partial-overlap decontamination (MOSS winnowing): drops any
        # document sharing a fingerprint with a benchmark item. k and w
        # derive from contamination_ngram so the winnowing GUARANTEE
        # matches the n-gram contract — any shared run of at least
        # contamination_ngram tokens (= w + k − 1) always produces a
        # shared fingerprint — while also (probabilistically) catching
        # shorter k-token quotes that the exact n-gram scan's longer
        # window misses. Reference fingerprints broadcast; min_shared=1
        # because decontamination is the paranoid direction.
        from patito_spark.operators.winnow import winnow_against

        wk = (contamination_ngram + 2) // 2
        ww = contamination_ngram + 1 - wk
        hit = winnow_against(
            gated,
            benchmark,
            text_col=text_col,
            id_col=id_col,
            k=wk,
            w=ww,
            min_shared=1,
        ).select(id_col)
        gated = gated.join(hit, on=id_col, how="left_anti")
        if contamination_neardup_threshold is not None:
            near = minhash_dedup_against(
                gated,
                benchmark,
                id_col=id_col,
                text_col=text_col,
                threshold=contamination_neardup_threshold,
            ).select(id_col)
            gated = gated.join(near, on=id_col, how="left_anti")
    elif benchmark is not None and contamination_action == "scrub":
        # Surgical decontamination: cut just the leaked spans instead of
        # dropping whole documents (scrub_spans docstring). Docs reduced
        # to nothing still drop via its remainder gate; the near-dup
        # pass below (if enabled) still removes paraphrased full-doc
        # leaks that share no verbatim run.
        from patito_spark.operators.spans import scrub_spans

        gated = scrub_spans(
            gated,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            span_tokens=contamination_ngram,
        )
        if contamination_neardup_threshold is not None:
            near = minhash_dedup_against(
                gated,
                benchmark,
                id_col=id_col,
                text_col=text_col,
                threshold=contamination_neardup_threshold,
            ).select(id_col)
            gated = gated.join(near, on=id_col, how="left_anti")
    elif benchmark is not None:
        contaminated = ngram_contamination(
            gated,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            n=contamination_ngram,
        ).select(id_col)
        gated = gated.join(contaminated, on=id_col, how="left_anti")
        if contamination_neardup_threshold is not None:
            # Second pass: paraphrased/mangled benchmark leaks that share
            # no verbatim n-gram — cross-corpus MinHash (benchmark side
            # broadcast; the corpus is never self-joined).
            near = minhash_dedup_against(
                gated,
                benchmark,
                id_col=id_col,
                text_col=text_col,
                threshold=contamination_neardup_threshold,
            ).select(id_col)
            gated = gated.join(near, on=id_col, how="left_anti")
    if benchmark is not None:
        stages["decontamination"] = gated

    if max_docs_per_domain is not None:
        # Last gate: no single domain/source over-contributes to what
        # actually enters training. Keep-best when an order column is
        # named (typically a quality score), else a stable hash-random
        # K-subset. Partial WindowGroupLimit keeps hot domains from
        # shipping their full mass into the shuffle (sampling.py).
        if domain_col is None:
            raise ValueError("max_docs_per_domain requires domain_col")
        from patito_spark.operators.sampling import cap_per_group

        gated = cap_per_group(
            gated,
            domain_col,
            max_docs_per_domain,
            key_col=id_col,
            order_by=domain_cap_order_col,
            descending=domain_cap_order_col is not None,
        )
        stages["domain_cap"] = gated

    out = {"documents": gated, "stages": stages}
    pack_src, pack_id = gated, id_col
    if max_tokens_per_chunk is not None:
        chunks = chunk_documents(
            gated,
            id_col=id_col,
            text_col=text_col,
            max_tokens=max_tokens_per_chunk,
            boundary=chunk_boundary,
        ).withColumn(
            "chunk_key",
            F.concat_ws(":", F.col(id_col).cast("string"), F.col("chunk_id")),
        )
        out["chunks"] = chunks
        pack_src, pack_id = chunks.withColumnRenamed(
            "chunk_text", "__pack_text"
        ), "chunk_key"
        pack_text = "__pack_text"
    else:
        pack_text = text_col
    if pack_max_len is not None:
        out["sequences"] = pack_sequences(
            pack_src,
            id_col=pack_id,
            text_col=pack_text,
            max_len=pack_max_len,
        )
    return out


def attrition_report(
    stages,
    input_df: Optional[DataFrame] = None,
    spark=None,
) -> DataFrame:
    """Dataset-card attrition table from ``prepare_training_corpus``'s
    ``stages`` dict: one row per stage that ran, in pipeline order —
    ``stage, stage_index, rows, dropped, drop_frac`` (dropped/frac are
    vs the previous stage, or vs ``input_df`` for the first stage when
    given).

    Every real pipeline publishes this table ("started with 4.1B docs,
    language filter kept 71%, dedup kept 62% of those, ..."); the
    stages dict already carries the lazy per-stage frames, this
    materializes their counts once and shapes the report.

    Cost: one ``count()`` JOB PER STAGE — each stage's plan re-executes
    up to that point (the snapshots are lazy views of one growing
    plan, not checkpoints). Run it when building the data card, not
    inside the pipeline hot path; persist upstream frames first if the
    pipeline is expensive and you need the full table.
    """
    if not stages:
        raise ValueError("stages is empty — nothing ran or wrong dict")
    rows = []
    prev = input_df.count() if input_df is not None else None
    for i, (name, frame) in enumerate(stages.items()):
        n = frame.count()
        dropped = (prev - n) if prev is not None else None
        frac = (
            float(dropped) / prev if dropped is not None and prev else None
        )
        rows.append((name, i, n, dropped, frac))
        prev = n
    session = spark or next(iter(stages.values())).sparkSession
    return session.createDataFrame(
        rows,
        "stage string, stage_index int, rows long, dropped long, "
        "drop_frac double",
    )
