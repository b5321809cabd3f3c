"""DataFrame -> DataFrame operators (the engine's physical surface)."""

from movie_etl_spark.operators.clean import (  # noqa: F401
    clean_collection_details,
    clean_company_details,
    clean_movie_details,
    clean_person_details,
    discover_movies,
)
from movie_etl_spark.operators.reshape import (  # noqa: F401
    explode_bridge,
    explode_cast,
    explode_crew,
    invert_watch_providers,
)
from movie_etl_spark.operators.joins import (  # noqa: F401
    build_edges,
    hierarchy_closure,
    keep_existing,
    keep_new,
)
from movie_etl_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    minhash_signatures,
    near_dup_pairs_minhash,
    ngram_jaccard_pairs,
    simhash,
)
from movie_etl_spark.operators.upsert import (  # noqa: F401
    assert_unique,
    insert_if_absent,
    rollback_key,
)
from movie_etl_spark.operators.similarity import (  # noqa: F401
    brute_force_top_k,
    lsh_top_k,
)
from movie_etl_spark.operators.corpus import (  # noqa: F401
    contamination_check,
    hash_split,
    pack_sequences,
    quality_filter,
    remove_boilerplate_lines,
    temperature_mix,
    word_gram_keys,
)
from movie_etl_spark.operators.dedup import (  # noqa: F401
    dup_clusters,
    embedding_near_dup_pairs,
)
from movie_etl_spark.operators.frequency import heavy_hitters  # noqa: F401
from movie_etl_spark.operators.search import (  # noqa: F401
    bm25_search,
    tfidf_top_terms,
)
from movie_etl_spark.operators.skew import (  # noqa: F401
    salted_broadcast_join,
    salted_count,
)
from movie_etl_spark.operators.upsert import (  # noqa: F401
    apply_changelog,
    incremental_above_watermark,
    scd2_apply,
)
from movie_etl_spark.operators.multimodal import (  # noqa: F401
    decode_audio,
    encode_gif,
    decode_audio_stats,
    decode_image,
    decode_images,
    extract_features,
    sample_frames,
)
from movie_etl_spark.operators.graph_algos import (  # noqa: F401
    bfs_distances,
    pagerank_fixed_point,
    triangle_counts,
)
from movie_etl_spark.operators.layout import (  # noqa: F401
    cluster_by_zorder,
    zorder_key,
)
