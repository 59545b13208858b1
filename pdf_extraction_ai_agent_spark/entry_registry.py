"""The query registry: one row per oracle-gated query.

``QUERIES`` maps each name ``__spark_entry__.queries()`` serves to its
builder, ``(spark, sf_dir) -> DataFrame``, and the DuckDB SQL that
``oracle_sql()`` serves under the same name. Adding a query is one row
here; a PDF roundtrip carrier is one row of ``entry_roundtrips.ROUNDTRIPS``
instead, and the comprehension at the end lists it. The builders and the
oracle SQL stay in their query packs.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import entry_queries as core
from . import entry_queries_ext as ext
from . import entry_queries_ext2 as ext2
from . import entry_queries_ext3 as ext3
from . import entry_queries_ext4 as ext4
from . import entry_queries_ext5 as ext5
from . import entry_queries_ext6 as ext6
from . import entry_queries_ext7 as ext7
from . import entry_queries_ext9 as ext9
from . import entry_queries_ext10 as ext10
from . import entry_queries_ext11 as ext11
from . import entry_roundtrips as rt


class Query(NamedTuple):
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str


QUERIES: dict[str, Query] = {
    "q01_parse_fields": Query(core.q01_parse_fields, core._q01_sql()),
    "q02_record_split": Query(core.q02_record_split, core._q02_sql()),
    "q03_classify_lob": Query(core.q03_classify_lob, core._q03_sql()),
    "q04_money_coerce": Query(core.q04_money_coerce, core._Q04_SQL),
    "q05_date_normalize": Query(core.q05_date_normalize, core._Q05_SQL),
    "q06_lob_summary": Query(core.q06_lob_summary, core._q06_sql()),
    "q07_top_claims": Query(core.q07_top_claims, core._q07_sql()),
    "q08_claim_frequency": Query(core.q08_claim_frequency, core._Q08_SQL),
    "q09_registry_search": Query(core.q09_registry_search, core._Q09_SQL),
    "q10_date_range_filter": Query(core.q10_date_range_filter, core._Q10_SQL),
    "q11_dedup_exact": Query(ext.q11_dedup_exact, ext._Q11_SQL),
    "q12_jaccard_pairs": Query(ext.q12_jaccard_pairs, ext._q12_sql()),
    "q13_minhash_signatures": Query(ext.q13_minhash_signatures, ext._q13_sql()),
    "q14_minhash_lsh_pairs": Query(ext.q14_minhash_lsh_pairs, ext._q14_sql()),
    "q15_simhash": Query(ext.q15_simhash, ext._q15_sql()),
    "q16_ann_cosine_topk": Query(ext.q16_ann_cosine_topk, ext._Q16_SQL),
    "q17_ann_cosine_lsh": Query(ext.q17_ann_cosine_lsh, ext._q17_sql()),
    "q18_lang_id": Query(ext.q18_lang_id, ext._q18_sql()),
    "q19_quality_scores": Query(ext.q19_quality_scores, ext._q19_sql()),
    "q20_token_counts": Query(ext.q20_token_counts, ext._Q20_SQL),
    "q21_fingerprints": Query(ext.q21_fingerprints, ext._q21_sql()),
    "q22_multimodal_meta": Query(ext.q22_multimodal_meta, ext._Q22_SQL),
    "q23_event_windows": Query(ext.q23_event_windows, ext._Q23_SQL),
    "q24_carrier_from_text": Query(ext2.q24_carrier_from_text, ext2._Q24_SQL),
    "q25_split_pages": Query(ext2.q25_split_pages, ext2._Q25_SQL),
    "q26_merge_chunks": Query(ext2.q26_merge_chunks, ext2._Q26_SQL),
    "q27_normalize_tables": Query(ext2.q27_normalize_tables, ext2._Q27_SQL),
    "q28_wc_tabular": Query(ext2.q28_wc_tabular, ext2._q28_sql()),
    "q29_field_accuracy": Query(ext2.q29_field_accuracy, ext2._Q29_SQL),
    "q30_recipients": Query(ext2.q30_recipients, ext2._Q30_SQL),
    "q31_grid_pipe_text": Query(ext3.q31_grid_pipe_text, ext3._Q31_SQL),
    "q32_chunk_text": Query(ext3.q32_chunk_text, ext3._Q32_SQL),
    "q33_page_analysis": Query(ext3.q33_page_analysis, ext3._Q33_SQL),
    "q34_strategy_counters": Query(ext3.q34_strategy_counters, ext3._Q34_SQL),
    "q35_classify_lobs_multi": Query(ext3.q35_classify_lobs_multi, ext3._q35_sql()),
    "q36_embedding_near_dups": Query(ext4.q36_embedding_near_dups, ext4._q36_sql()),
    "q37_ivf_assignments": Query(ext4.q37_ivf_assignments, ext4._q37_sql()),
    "q38_sessionize": Query(ext4.q38_sessionize, ext4._Q38_SQL),
    "q39_flagship_extract": Query(ext5.q39_flagship_extract, ext5._Q39_SQL),
    "q40_dedup_keep_list": Query(ext5.q40_dedup_keep_list, ext5._q40_sql()),
    "q41_excel_sheets": Query(ext6.q41_excel_sheets, ext6._Q41_SQL),
    "q42_detect_text_tables": Query(ext6.q42_detect_text_tables, ext6._q42_sql()),
    "q43_region_rollup": Query(ext6.q43_region_rollup, ext6._Q43_SQL),
    "q44_layout_tables": Query(ext6.q44_layout_tables, ext6._q44_sql()),
    "q45_lattice_tables": Query(ext6.q45_lattice_tables, ext6._q45_sql()),
    "q46_lattice_normalize": Query(ext6.q46_lattice_normalize, ext6._q46_sql()),
    "q47_deterministic_split": Query(ext7.q47_deterministic_split, ext7._q47_sql()),
    "q48_contamination": Query(ext7.q48_contamination, ext7._q48_sql()),
    "q50_stratified_sample": Query(ext7.q50_stratified_sample, ext7._q50_sql()),
    "q52_incremental_dedup": Query(ext7.q52_incremental_dedup, ext7._q52_sql()),
    "q53_contaminated_spans": Query(ext7.q53_contaminated_spans, ext7._q53_sql()),
    "q79_repetition_scores": Query(ext9.q79_repetition_scores, ext9._Q79_SQL),
    "q80_pii_scrub": Query(ext9.q80_pii_scrub, ext9._Q80_SQL),
    "q81_boilerplate_filter": Query(ext9.q81_boilerplate_filter, ext9._Q81_SQL),
    "q82_pack_sequences": Query(ext9.q82_pack_sequences, ext9._Q82_SQL),
    "q83_gopher_flags": Query(ext9.q83_gopher_flags, ext9._q83_sql()),
    "q84_ivf_probe_topk": Query(ext4.q84_ivf_probe_topk, ext4._q84_sql()),
    "q85_window_dedup": Query(ext10.q85_window_dedup, ext10._Q85_SQL),
    "q86_url_canonicalize": Query(ext10.q86_url_canonicalize, ext10._q86_sql()),
    "q87_temperature_sample": Query(ext10.q87_temperature_sample, ext10._Q87_SQL),
    "q88_trigram_lm_scores": Query(ext10.q88_trigram_lm_scores, ext10._Q88_SQL),
    "q89_vocab_report": Query(ext10.q89_vocab_report, ext10._Q89_SQL),
    "q90_semantic_dedup": Query(ext10.q90_semantic_dedup, ext10._q90_sql()),
    "q91_html_skip_tags": Query(ext11.q91_html_skip_tags, ext11._Q91_SQL),
    "q92_html_table_pipe": Query(ext11.q92_html_table_pipe, ext11._Q92_SQL),
    "q93_html_link_hosts": Query(ext11.q93_html_link_hosts, ext11._q93_sql()),
    "q94_host_budget": Query(ext11.q94_host_budget, ext11._q94_sql()),
    "q95_corpus_shuffle": Query(ext11.q95_corpus_shuffle, ext11._q95_sql()),
    "q96_cluster_representatives": Query(ext11.q96_cluster_representatives, ext11._q96_sql()),
    "q98_bpe_merges": Query(ext11.q98_bpe_merges, ext11._q98_sql()),
    "q99_bpe_fertility": Query(ext11.q99_bpe_fertility, ext11._q99_sql()),
    "q100_fuzzy_decontamination": Query(ext11.q100_fuzzy_decontamination, ext11._q100_sql()),
    "q101_corpus_snapshot": Query(ext11.q101_corpus_snapshot, ext11._q101_sql()),
    "q102_langid_confusion": Query(ext11.q102_langid_confusion, ext11._q102_sql()),
    "q103_length_histogram": Query(ext11.q103_length_histogram, ext11._Q103_SQL),
    **{name: Query(rt.live_query(name), row.oracle) for name, row in rt.ROUNDTRIPS.items()},
}
