from .columns import (
    image_ext_col,
    media_key_col,
    decoded_media_bytes,
)

__all__ = [
    "image_ext_col",
    "media_key_col",
    "decoded_media_bytes",
]
