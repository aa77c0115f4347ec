"""DataFrame -> DataFrame operators (the engine's composite ops)."""

from dataingestiontohana_spark.operators.chunking import (  # noqa: F401
    chunk_windows,
    pack_chunks,
)
from dataingestiontohana_spark.operators.dedup import (  # noqa: F401
    exact_jaccard_pairs,
    minhash_bands,
    minhash_candidates,
    minhash_signatures,
    segment_dedup_clean,
    simhash_fingerprints,
    substring_dup_stats,
)
from dataingestiontohana_spark.operators.dedup_store import (  # noqa: F401
    append_to_store,
    dedup_against_store,
    write_signature_store,
)
from dataingestiontohana_spark.operators.ivf import (  # noqa: F401
    ivf_topk,
    ivf_topk_batch,
)
from dataingestiontohana_spark.operators.multimodal import (  # noqa: F401
    decode_media,
    dhash_images,
    dhash_neardup_pairs,
    encode_jpeg_baseline,
    encode_png,
    resize_images,
    sample_frames,
)
from dataingestiontohana_spark.operators.pq import (  # noqa: F401
    pq_adc_scores,
    pq_codebook,
    pq_encode,
    quantize_embeddings,
)
from dataingestiontohana_spark.operators.rollup import (  # noqa: F401
    hypertable_rollup,
)
from dataingestiontohana_spark.operators.sketches import (  # noqa: F401
    bloom_positions,
    bloom_probe,
    cms_estimate,
    cms_table,
)
