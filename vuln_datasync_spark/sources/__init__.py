from .changelog import read_changelog_batch, read_changelog_stream  # noqa: F401
