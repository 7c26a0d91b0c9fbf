import os
import sys

# the benchmark's modules are flat files in perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
