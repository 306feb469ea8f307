from .hashing import md5_int
from .scrub import clean_key, clean_key_col, artifact_key

__all__ = ["md5_int", "clean_key", "clean_key_col", "artifact_key"]
