"""End-to-end fuse benchmark; run ``python3 perfbench/run.py --help``."""
