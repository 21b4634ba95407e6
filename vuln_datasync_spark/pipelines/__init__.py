from .corpus_prep import prepare_training_corpus  # noqa: F401
from .index_sync import sync_ann_index, sync_minhash_index  # noqa: F401
from .agg_sync import read_agg, sync_agg  # noqa: F401
