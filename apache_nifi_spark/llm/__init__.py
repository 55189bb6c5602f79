"""Beyond-reference LLM-data-pipeline operators (SURVEY.md §2.12).

The capabilities a 100 TB training-data pipeline needs on top of the NiFi
2.7.2 processor surface: deduplication (exact, MinHash-LSH, SimHash,
n-gram Jaccard), embedding similarity search (brute-force + LSH/IVF scale
paths), text analysis (token counting, language ID, quality scoring,
fingerprinting), and multimodal binary-column plumbing.

Everything is built from Spark higher-order array functions (transform /
aggregate / zip_with — JVM-side, codegen'd); Python appears only in the
byte-imperative decoders (multimodal containers, WARC, HTML main text),
each a per-row generator run by :func:`apache_nifi_spark.io.flat_map`
over Arrow batches.
"""

from apache_nifi_spark.llm.dedup import (  # noqa: F401
    exact_dedup,
    char_shingles,
    minhash_signatures,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    simhash,
    ngram_jaccard_pairs,
    embedding_cosine_duplicates,
    substring_span_dedup,
    substring_span_clean,
    paragraph_dedup,
)
from apache_nifi_spark.llm.train import (  # noqa: F401
    hashed_linear_score_trained,
    logreg_train_fixed_point,
    logreg_train_weights,
)
from apache_nifi_spark.llm.similarity import (  # noqa: F401
    dot_product,
    l2_norm,
    cosine_similarity,
    cosine_topk_bruteforce,
    hard_negatives,
    srp_signature,
    cosine_topk_lsh,
    ivf_assign,
    ivf_topk,
    quantize_int8,
    dequantize_int8,
)
from apache_nifi_spark.llm.text import (  # noqa: F401
    token_stats,
    bpe_ish_tokens,
    language_id,
    quality_score,
    quality_logit,
    unigram_logprob,
    bigram_logprob,
    ccnet_buckets,
    tfidf_keywords,
    zipf_fit,
    c4_line_filter,
    rolling_fingerprint,
    chunk_sliding,
    pii_redact,
    repetition_scores,
    normalize_urls,
    decontaminate,
    ngram_novelty,
    gopher_quality_rules,
)
from apache_nifi_spark.llm.pack import pack_greedy, shard_layout  # noqa: F401
from apache_nifi_spark.llm.pca import dominant_direction  # noqa: F401
from apache_nifi_spark.llm.coreset import kcenter_coreset  # noqa: F401
from apache_nifi_spark.llm.bloom import bloom_decontaminate  # noqa: F401
from apache_nifi_spark.llm.warc import (  # noqa: F401
    encode_warc_gz,
    parse_warc,
    warc_responses,
)
from apache_nifi_spark.llm.robots import (  # noqa: F401
    parse_robots,
    robots_filter,
    robots_is_allowed,
)
from apache_nifi_spark.llm.sketch import countmin_heavy_hitters  # noqa: F401
from apache_nifi_spark.llm.cluster import (  # noqa: F401
    connected_components,
    kmeans_fixed_point,
    near_dup_clusters,
    semantic_dedup,
)
from apache_nifi_spark.llm.multimodal import (  # noqa: F401
    attach_binary_content,
    identify_mime_type,
    decode_image_features,
    sample_video_frames,
    parse_gif_frames,
    gif_animation_bytes,
    parse_image_dimensions,
    png_header_bytes,
    parse_wav_metadata,
    wav_header_bytes,
    decode_audio_metadata,
    png_pixel_rows,
    png_pixel_stats,
    encode_png,
    decode_image_pixel_stats,
    encode_wav,
    decode_jpeg_gray_stats,
    wav_pcm_samples,
    wav_pcm_stats,
    decode_audio_pcm_stats,
    encode_mp4,
    parse_mp4_metadata,
    decode_video_mp4_meta,
    encode_webm,
    parse_matroska_metadata,
    decode_video_mkv_meta,
    encode_flac_streaminfo,
    parse_flac_streaminfo,
    encode_mp3_frames,
    parse_mpeg_audio,
    decode_audio_container_meta,
    decode_image_png_meta,
    encode_avi_skeleton,
    encode_png_skeleton,
    ima_adpcm_decode,
    parse_avi_metadata,
    encode_tiff,
    parse_png_metadata,
    parse_tiff_metadata,
    decode_image_tiff_meta,
    encode_ogg_vorbis,
    parse_ogg_metadata,
    encode_id3v2,
    parse_id3v2,
    encode_zstd_skeleton,
    parse_zstd_metadata,
)
