import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the harness modules, then the repository root (the engine)
sys.path[:0] = [HERE, os.path.dirname(HERE)]
